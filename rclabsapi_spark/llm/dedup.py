"""Deduplication operators for training-data pipelines.

Four tiers, all pure DataFrame ops (no UDFs, no driver loops):

- exact:          hash-groupBy on the normalized text
- MinHash + LSH:  shingle → md5-minhash signature → banded buckets with
                  in-bucket pair-gen (signatures only through the band
                  shuffle; shingle sets join back for verification)
- n-gram Jaccard: exact pairwise Jaccard over an inverted shingle index
                  (explode → bucket pair-gen → count) — verification tier
- SimHash:        bit-vote fingerprint over token hashes

Determinism/portability: all hashing is md5 (identical hex in every
engine), so the DuckDB oracle reproduces signatures bit-for-bit. md5 of a
seeded prefix is a valid random permutation for MinHash (take the
lexicographic min of hex digests).

Scale notes (100 TB): every step is embarrassingly parallel except the
band-key shuffle, which carries only (doc_id, band_key) — exactly the
LSH design goal (each bucket is tiny, and the payload is ~32 B/row).
Hot-bucket caps are ON by default: ``max_bucket_size=50`` (LSH) and
``max_shingle_df=100`` (inverted index) bound the B²/2 in-bucket pair
blowup the way web-dedup pipelines drop boilerplate; both caps are plain
bucket-size filters mirrored in the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rclabsapi_spark.layout import spread_by

from rclabsapi_spark.functions.scalars import round_half_up
from rclabsapi_spark.planaudit import settle


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def shingle_posting(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Flat (key, shingle) posting rows — the engine's shingle generator.

    Physical shape: repartition by key (fixture parquet = 1 file = 1 task
    otherwise), ``posexplode(split(text))`` to flat token rows, then window
    ``lead`` to stitch n-grams. All whole-stage-codegen expressions: the
    array-lambda alternative (``transform`` + ``element_at``) falls back to
    interpreted eval and re-evaluates ``split(text)`` per element, which
    measured ~40s single-task on 5k docs vs ~1s for this shape. The window
    partitions by doc (docs are small), so no skew; at 100 TB the
    repartition spreads shingling across every executor."""
    posting = spread_by(docs, key_col).select(
        F.col(key_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(key_col).orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, n)]
    return (
        posting.select(
            F.col(key_col),
            F.concat_ws(" ", F.col("tok"), *leads).alias("shingle"),
            leads[-1].isNotNull().alias("_full"),
        )
        .filter(F.col("_full"))
        .drop("_full")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles; safe empty result for short docs. Mirrors the
    DuckDB expression in suites/llm.py exactly.

    The token array is bound ONCE per row via ``let`` (a lambda variable),
    so each ``element_at`` inside the transform lambda reads a cheap leaf
    reference. The previous shape passed the raw ``tokens(text)`` Column
    into the lambda, which textually embedded the split+filter subtree
    n× per shingle — HOF lambdas are interpreted with no common-
    subexpression elimination, i.e. O(len²) string work per document
    (the same class fixed for doc_bigrams in r10, commit b83c22b).
    Per-doc cost only — but measured ~20% of dedup_ngram_jaccard."""
    from rclabsapi_spark.functions.scalars import let

    return let(
        tokens(text),
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def distinct_shingles(text: Column, n: int = 3) -> Column:
    return F.array_distinct(shingles(text, n))


def exact_dedup(
    docs: DataFrame, *, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one group per distinct text, keeper = min key.
    Group key is md5(text) — at 100 TB you shuffle 32-byte digests, not
    document bodies."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(key_col).alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    fp_col: str = "text_hash",
) -> DataFrame:
    """Incremental exact dedup: a NEW batch against the fingerprint store
    of everything already ingested — the daily-merge pattern (full
    re-dedup of a 100 TB corpus per batch is a non-starter; the
    fingerprint store is 32 B/doc and append-only).

    ``seen_fps`` must carry its fingerprints in ``fp_col`` (default
    ``text_hash``, the column this function emits — so a store built
    from prior ``kept`` output round-trips). Raises if absent: silently
    joining on a positional guess against a wider store would produce
    wrong seen_before/kept verdicts.

    Returns (key, text_hash, status) for every new-batch doc:
    ``seen_before`` (hash exists in the store — wins over the in-batch
    verdict), ``dup_in_batch`` (another new doc with the same hash has a
    smaller key), or ``kept``. The caller appends the kept hashes to the
    store, keeping the operation idempotent.

    Scale: ONE shuffle on the 32-byte hash — the in-batch keeper window
    and the store join cluster on the same key; the store side shuffles
    its hashes only (never broadcastable at corpus scale, never wider
    than 32 B/row).
    """
    batch = new_docs.select(
        F.col(key_col), F.md5(F.col(text_col)).alias("text_hash")
    )
    if fp_col not in seen_fps.columns:
        raise ValueError(
            f"fingerprint store has no column {fp_col!r}; "
            f"got {seen_fps.columns}"
        )
    seen = seen_fps.select(
        F.col(fp_col).alias("text_hash")
    ).distinct().withColumn("_seen", F.lit(1))
    marked = batch.join(seen, "text_hash", "left")
    keeper = F.min(key_col).over(Window.partitionBy("text_hash"))
    status = (
        F.when(F.col("_seen") == 1, F.lit("seen_before"))
        .when(F.col(key_col) != keeper, F.lit("dup_in_batch"))
        .otherwise(F.lit("kept"))
    )
    return marked.select(key_col, "text_hash", status.alias("status"))


def minhash_signatures(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Per-doc MinHash signatures — (key, mh_0..mh_{num_hashes-1}), no
    shingle payload (signatures are what the band shuffle carries; the
    shingle sets are joined back only for surviving candidates).

    One-permutation scheme: each shingle is md5'd ONCE and the 128-bit
    digest is sliced into ``num_hashes`` 16-bit lanes (4 hex chars each);
    lane i's signature is the lexicographic min over the doc's shingles.
    Compared with seeded per-lane hashing this cuts hash work ×num_hashes
    and keeps exact DuckDB parity (md5 + substring are portable).

    Physical shape: repartition docs by key (a fixture parquet is often a
    single file → single task; the shingle/hash work must spread across
    the cluster), explode shingles to flat rows (the shingle expression is
    evaluated once — not re-inlined per signature lane the way per-lane
    array exprs are), then one partial-aggregatable groupBy(key): min per
    lane combines map-side, and the repartition already hash-distributes
    by key so the groupBy adds no second shuffle. min over the
    duplicate-bearing posting equals min over the distinct set, so no
    pre-dedup pass."""
    assert num_hashes <= 8, "md5 has 32 hex chars = 8 four-char lanes"
    posting = shingle_posting(
        docs, text_col=text_col, key_col=key_col, n=n
    ).withColumn("h", F.md5("shingle"))
    return posting.groupBy(key_col).agg(
        *[
            F.min(F.substring("h", 4 * i + 1, 4)).alias(f"mh_{i}")
            for i in range(num_hashes)
        ],
    )


def doc_shingle_sets(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(key, shingle_set) — the verification relation for exact Jaccard.
    Same repartition-by-key posting shape as the signature pass, so the
    groupBy collect_set adds no extra exchange."""
    return (
        shingle_posting(docs, text_col=text_col, key_col=key_col, n=n)
        .groupBy(key_col)
        .agg(F.collect_set("shingle").alias("shingle_set"))
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 50,
) -> DataFrame:
    """Banded LSH: docs sharing any band of the signature become a
    candidate pair; exact Jaccard on the shingle sets verifies.

    Physical shape (verify-by-join-back): the band shuffle carries ONLY
    (doc_id, band key) — ~32 B/row; at 10¹⁰ docs the alternative of riding
    each doc's ~KB shingle set through every band bucket is ~TBs × bands
    through the exchange. Pair generation is per-bucket array combinatorics
    (``collect_list`` + indexed ``transform``/``slice``; no self-join), then
    the surviving candidate docs — typically a tiny fraction of the corpus —
    are semi-joined back against the shingle-set relation and each pair
    fetches its two sets through one join + one 2-row-per-pair regroup.
    The shingling runs twice (signatures, verification sets); that's
    embarrassingly-parallel CPU, the cheap currency at scale, traded
    against shuffle bytes, the expensive one.

    ``max_bucket_size`` (default 50) drops degenerate hot buckets
    (boilerplate near-dups) the way web-scale dedup pipelines do — a
    bucket of B docs yields B²/2 pairs, so one 10⁶-doc bucket would
    dominate the job. Pass ``None`` to disable."""
    rows = num_hashes // bands
    mh = minhash_signatures(
        docs, text_col=text_col, key_col=key_col, n=n, num_hashes=num_hashes
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                "|", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    banded = mh.select(
        key_col, F.explode(F.array(*band_cols)).alias("band")
    ).select(key_col, "band.band_id", "band.band_key")

    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.array_sort(F.collect_list(F.col(key_col))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("members") <= max_bucket_size)

    m = F.col("members")
    # members are sorted → doc_a < doc_b within each generated pair.
    pair_structs = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + F.lit(2), F.size(m) - i - F.lit(1)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    # candidate pairs are a tiny fraction of the corpus; cache them —
    # they feed two consumers (the verification join and the candidate
    # semi-join) and must not re-derive the banding pipeline per use
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .cache()
    )

    # Verification join-back: sets only for docs that survived banding.
    sides = pairs.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias(key_col)
    )
    cand_docs = sides.select(key_col).distinct()
    sets = doc_shingle_sets(
        docs.join(cand_docs, key_col, "leftsemi"),
        text_col=text_col,
        key_col=key_col,
        n=n,
    )
    # one join, then a 2-row regroup per pair; doc_a < doc_b, so after
    # array_sort the first struct is doc_a's set, the second doc_b's.
    per_pair = (
        sides.join(sets, key_col)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(key_col), F.col("shingle_set")))
            ).alias("ss")
        )
    )
    set_a = F.col("ss")[0]["shingle_set"]
    set_b = F.col("ss")[1]["shingle_set"]
    inter = F.size(F.array_intersect(set_a, set_b))
    union = F.size(set_a) + F.size(set_b) - inter
    return per_pair.select(
        "doc_a",
        "doc_b",
        round_half_up(inter / union, 6).alias("jaccard"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Exact n-gram Jaccard via an inverted shingle index: explode distinct
    shingles, self-join the postings, count common shingles per pair.

    ``max_shingle_df`` (default 100) drops shingles appearing in more than
    N docs (boilerplate guard — at web scale a shingle shared by B docs
    yields B²/2 pair increments, so hot shingles explode the pair count;
    dropping them mirrors stop-word removal in web-dedup pipelines). Pass
    ``None`` to disable.

    Physical shape: the distinct posting comes from one
    groupBy(key).collect_set over the shingle stream — the groupBy
    reuses the posting's key partitioning (no exchange), dedupes, and
    yields the per-doc set size for free (``size(set)``), replacing the
    previous dropDuplicates-(key,shingle)-shuffle + count-window pair
    with zero extra exchanges. The inverted index is then one
    groupBy(shingle) with in-bucket pair generation via array
    combinatorics (the LSH pair-gen shape) instead of a posting
    self-join. The shingle pipeline is computed ONCE — a self-join's two
    sides each recompute it — and the hot-shingle guard becomes a plain
    bucket-size filter (a shingle's bucket size IS its document
    frequency). Pair counts per hot shingle are identical either way
    (a B-doc bucket yields B²/2 pairs, same as the join), so this is
    strictly fewer exchanges for the same output."""
    sets = doc_shingle_sets(docs, text_col=text_col, key_col=key_col, n=n)
    posting = sets.select(
        F.col(key_col),
        F.size("shingle_set").alias("sh_size"),
        F.explode("shingle_set").alias("shingle"),
    )
    buckets = (
        posting.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(key_col), F.col("sh_size")))
            ).alias("members")
        )
        .filter(F.size("members") >= 2)
    )
    if max_shingle_df is not None:
        buckets = buckets.filter(F.size("members") <= max_shingle_df)
    m = F.col("members")
    # members sorted by key (first struct field) → doc_a < doc_b.
    pair_structs = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + F.lit(2), F.size(m) - i - F.lit(1)),
                lambda y: F.struct(
                    x[key_col].alias("doc_a"),
                    y[key_col].alias("doc_b"),
                    x["sh_size"].alias("size_a"),
                    y["sh_size"].alias("size_b"),
                ),
            ),
        )
    )
    common = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("p.size_a").alias("size_a"),
            F.first("p.size_b").alias("size_b"),
        )
    )
    out = common.withColumn(
        "jaccard",
        round_half_up(
            F.col("common")
            / (F.col("size_a") + F.col("size_b") - F.col("common")),
            6,
        ),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("doc_a", "doc_b", "common", "jaccard")


def dedup_clusters(
    pairs: DataFrame,
    *,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Cluster resolution: connected components over the candidate-pair
    graph → (doc_id, cluster_id), where cluster_id is the MIN doc id in
    the component — the canonical keeper. This is the step between
    pair generation and dedup decisions: near-dup pairs are transitive
    in practice (A≈B, B≈C ⇒ one boilerplate family), so keep-one-per-
    cluster needs components, not pairs.

    HashMin label propagation: every node repeatedly takes the min label
    among itself and its neighbors; converges in O(component diameter)
    rounds (near-dup clusters are shallow — most are stars around one
    template). Each round is one join + one partial-aggregatable groupBy
    over the EDGE relation only (never the corpus), and the driver reads
    one scalar (changed-label count) per round for early stop — no data
    through the driver. For adversarial long-chain graphs the classic
    large-star/small-star alternation drops rounds to O(log n) with the
    same join/groupBy shape.

    Exact integer semantics — the DuckDB oracle's recursive-CTE
    transitive closure reproduces cluster ids bit-for-bit."""
    edges = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    # Re-partition by src AFTER the distinct, BEFORE the cache (r17):
    # the distinct leaves the cached edges hash-partitioned on
    # (src, dst), but every round joins on src alone — so every round
    # paid a fresh exchange of the (unchanging) edge relation. Cached
    # hash(src) partitioning satisfies the join requirement once and
    # for all; only the (shrinking) label relation shuffles per round.
    edges = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )
    edges = spread_by(edges, "src").cache()
    # localCheckpoint (not cache): each round's plan references labels
    # twice (join + union), so lineage grows ~3× per round and by the
    # round cap the ANALYZER, not execution, dominates — checkpointing
    # keeps every round planning against a leaf relation. (edges is
    # referenced every round too but its lineage stays flat; cache is
    # right there.) LAZY checkpoint: the convergence aggregate right
    # below is the materializing action, so each round costs ONE Spark
    # job (an eager checkpoint + a separate aggregate was two — at
    # O(diameter) rounds the per-round job overhead is the loop's wall).
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
        .localCheckpoint(eager=False)
    )
    # Convergence check: labels only ever decrease (min-propagation), so
    # the label sum strictly decreases iff any node changed — one scalar
    # aggregate per round instead of a new-vs-old join + count (halves
    # the per-round job count; exact BIGINT arithmetic).
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    # ONE propagation hop per materialized round — deliberately. The
    # r17 pass tried fusing TWO HashMin hops per lazily-checkpointed
    # round (halve the job count, same fixpoint — min-propagation is
    # monotone with a unique fixpoint, so any schedule agrees) and
    # measured it SLOWER on interleaved A/B minima:
    # dedup_cluster_audit +13.0%, pipeline_dedup_apply +2.9%,
    # mm_frame_dedup +2.5% (dedup_clusters_star, untouched control,
    # −2.5% = the noise band). Near-dup graphs are shallow stars that
    # converge in ~1-2 hops, so the fused second hop re-shuffles the
    # edge relation for nothing on most rounds — per-round job
    # scheduling is cheaper than a wasted edge join. Reverted.
    for _ in range(max_iters):
        prop = edges.join(
            labels, edges["src"] == labels["doc"]
        ).select(F.col("dst").alias("doc"), F.col("label"))
        new_labels = (
            labels.unionByName(prop)
            .groupBy("doc")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select(
        F.col("doc").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_clusters_star(
    pairs: DataFrame,
    *,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the adversarial-graph escape hatch for :func:`dedup_clusters`.

    HashMin propagates labels one hop per round: O(component diameter)
    rounds. Near-dup clusters are shallow stars, so that's usually 2-3 —
    but a pathological chain (A≈B≈C≈… boilerplate drift) needs
    diameter rounds and HashMin's ``max_iters`` cap turns that into
    silently wrong labels. Star alternation contracts paths by pointer
    doubling instead: each round rewires every node to its current
    local minimum, halving (at least) the remaining depth ⇒ O(log n)
    rounds with the SAME per-round shape (one join + one
    partial-aggregatable groupBy over the edge relation only).

    Same contract as :func:`dedup_clusters`: returns
    (doc_id, cluster_id = min doc id in the component), exact integer
    semantics, identical output. Raises if ``max_iters`` rounds don't
    reach the fixpoint (at 30 ≈ log₂-safe for 2³⁰-node chains, that
    means a bug, not a big graph). ``stats``, if given, records
    ``{"rounds": n}`` for convergence tests.
    """
    # Directed convention between phases (paper): large-star consumes
    # symmetric edges and emits (big → its neighborhood min); small-star
    # consumes big→small edges and rewires each star's members to the
    # star's min. Fixpoint = small-star output stable = star graphs
    # child→root.
    edges = pairs.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).filter(F.col("u") != F.col("v"))

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("mv"))
        m = m.select("u", F.least("u", "mv").alias("m"))
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # input edges all have u > v; m = min of u's small neighborhood
        m = e.groupBy("u").agg(F.min("v").alias("m"))
        rewired = (
            e.join(m, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        rooted = m.select("u", F.col("m").alias("v"))
        return rewired.union(rooted).distinct()

    # big→small orientation for the first small-star round.
    # localCheckpoint (not cache) each round: one round references its
    # input ~12× (unions + self-aggregations on both stars), so the
    # LOGICAL plan grows ~12× per round — cache truncates execution but
    # not plan analysis, and by round ~8 the analyzer itself is the
    # bottleneck (minutes on a 256-node chain). Checkpointing cuts the
    # lineage so every round plans against a leaf relation. LAZY
    # checkpoint: the convergence count below materializes it, so each
    # round is ONE job (eager + count was two per round).
    stars = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct().localCheckpoint(eager=False)

    # Convergence: the round transform T = small∘large is deterministic,
    # so set-equality of consecutive outputs is an EXACT fixpoint test
    # (s = T(s) ⇒ stable forever): count match + empty one-sided
    # exceptAll. One extra edge-relation job per round, and rounds are
    # O(log n) — cheaper than risking a false early stop.
    prev_cnt = stars.count()
    rounds = 0
    for rounds in range(1, max_iters + 1):
        new_stars = small_star(large_star(stars)).localCheckpoint(
            eager=False
        )
        cur_cnt = new_stars.count()
        converged = (
            cur_cnt == prev_cnt
            and new_stars.exceptAll(stars).limit(1).count() == 0
        )
        stars = new_stars
        if converged:
            break
        prev_cnt = cur_cnt
    else:
        raise RuntimeError(
            f"star alternation did not converge in {max_iters} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds

    # stars is child→root; roots label themselves
    roots = stars.select(F.col("v").alias("u")).distinct().withColumn(
        "v", F.col("u")
    )
    labels = stars.unionByName(roots).groupBy("u").agg(
        F.min("v").alias("cluster_id")
    )
    out = labels.select(F.col("u").alias("doc_id"), "cluster_id")
    return out


_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash16(docs: DataFrame, *, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash: bit j of each token's md5 = high bit of hex char j;
    tokens vote ±1 per bit; fingerprint bit = (vote sum > 0).

    Expressed as explode → one groupBy with 16 conditional sums → bit
    recombination. All integer math → exact cross-engine parity.

    Physical shape: spread by key first (a fixture parquet is one
    file = one task; the explode/md5/vote work must spread across the
    cluster — spread_by, not a count-less repartition, which AQE
    coalesces back to one partition by bytes). Repeated tokens are
    pre-counted per (key, token) — both
    groupBys reuse the key partitioning (clustering on a subset of the
    group keys ⟹ no exchange), and the md5 + per-bit vote work then runs
    once per DISTINCT token per doc (measured ~2.3× repetition on the
    fixture corpus), with each vote weighted by the count."""
    tok = (
        spread_by(docs, key_col)
        .select(
            F.col(key_col), F.explode(tokens(F.col(text_col))).alias("tok")
        )
        .groupBy(key_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.md5("tok"))
    )
    votes = [
        F.sum(
            F.when(
                F.substring("h", j + 1, 1).isin(*_HEX_HIGH), F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"v{j}")
        for j in range(16)
    ]
    agg = tok.groupBy(key_col).agg(*votes)
    fp = None
    for j in range(16):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select(key_col, fp.cast("long").alias("simhash"))


def simhash_bits(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    bits: int = 60,
) -> DataFrame:
    """Generalized SimHash: bit j of each token's md5 = bit (j mod 4) of
    hex digit (j div 4); tokens vote ±1 per bit; fingerprint bit =
    (vote > 0). ``bits ≤ 60`` keeps the fingerprint positive in a signed
    64-bit integer on every engine. Same one-groupBy shape as
    ``simhash16``, with the same repartition-by-key spread of the
    explode/vote work.

    Physical optimization (identical semantics to the substring spec the
    DuckDB oracle runs): the first 15 hex digits of the md5 are decoded
    ONCE per token into a 60-bit integer ``t`` — hex digit ``d``
    (1-indexed) lands at value bits ``4*(15-d)..4*(15-d)+3``, so spec bit
    ``j`` (= bit ``j%4`` of digit ``j//4+1``) is value bit
    ``4*(14-j//4) + j%4`` of ``t``. The ±1 vote sum becomes a plain sum
    of extracted bits: ``vote_j > 0  ⟺  2*Σbit_j > count``. That turns
    60 per-row substring+IN probes into 60 shift-and-mask longs — pure
    codegen integer math, ~5× less CPU per token measured at sf0.1.
    Repeated tokens are pre-counted per (key, token) — the pre-count
    groupBy reuses the key partitioning (no exchange) and the md5/decode
    /shift work runs once per DISTINCT token per doc (~2.3× repetition
    on the fixture corpus), each bit weighted by the count. The spread
    uses spread_by (explicit partition count): a count-less repartition
    is an AQE coalescing target and collapses to ONE partition at bench
    scale, serializing the whole vote stage."""
    assert bits <= 60, "fingerprint must fit a signed 64-bit int"
    tok = (
        spread_by(docs, key_col)
        .select(
            F.col(key_col), F.explode(tokens(F.col(text_col))).alias("tok")
        )
        .groupBy(key_col, "tok")
        .agg(F.count(F.lit(1)).alias("tok_cnt"))
        .withColumn(
            "t", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
        )
    )
    # Each vote sum and the 60-term fingerprint recombination are built
    # as SQL strings (r17): composing them Column-by-Column paid ~500
    # py4j round trips per query construction (the pq_encode finding —
    # driver-side Python↔JVM chatter, not analysis). Parsed trees are
    # operator-identical: shiftright/& on longs, integer literals 2^j
    # (bigint), the same left-associative sum.
    ones = [
        F.expr(
            f"sum((shiftright(`t`, {4 * (14 - j // 4) + j % 4}) & 1)"
            f" * `tok_cnt`)"
        ).alias(f"o{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy(key_col).agg(F.sum("tok_cnt").alias("cnt"), *ones)
    fp_chain = " + ".join(
        f"(CASE WHEN `o{j}` * 2 > `cnt` THEN {2**j}L ELSE 0L END)"
        for j in range(bits)
    )
    return agg.select(
        key_col, F.expr(fp_chain).cast("long").alias("simhash")
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_hamming: int = 2,
    bits: int = 60,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: fingerprints within ``max_hamming`` bits.

    Blocking by the pigeonhole principle: split the fingerprint into
    ``max_hamming + 1`` bit-bands — any pair within the distance shares
    at least one exact band, so banding finds ALL qualifying pairs (100%
    recall) while only comparing within buckets. Exact Hamming
    (``bit_count(a XOR b)``) verifies candidates. Same physical shape as
    the MinHash path: one shuffle on the band key, in-bucket pair
    generation, no self-join.

    ``bits`` matters for blocking quality: with 16-bit fingerprints the
    bands are 5-6 bits (≤64 distinct values), so every band bucket holds
    ~N/64 of the corpus and pair generation degenerates toward O(N²) —
    measured 8s at 5k docs. At 60 bits the bands are 20 bits wide and
    buckets stay tiny."""
    n_bands = max_hamming + 1
    # near-even band widths, e.g. 60/3 → 20,20,20
    widths = [bits // n_bands + (1 if i < bits % n_bands else 0) for i in range(n_bands)]
    fp = simhash_bits(docs, text_col=text_col, key_col=key_col, bits=bits)

    band_cols = []
    shift = 0
    for b, w in enumerate(widths):
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash"), shift)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("band_key"),
            )
        )
        shift += w
    banded = fp.select(
        key_col, "simhash", F.explode(F.array(*band_cols)).alias("band")
    ).select(key_col, "simhash", "band.band_id", "band.band_key")

    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(key_col), F.col("simhash")))
            ).alias("members")
        )
        .filter(F.size("members") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("members") <= max_bucket_size)
    m = F.col("members")
    pair_structs = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + F.lit(2), F.size(m) - i - F.lit(1)),
                lambda y: F.struct(
                    x[key_col].alias("doc_a"),
                    y[key_col].alias("doc_b"),
                    x["simhash"].alias("fp_a"),
                    y["simhash"].alias("fp_b"),
                ),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.fp_a", "p.fp_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def cluster_quality_audit(
    pairs: DataFrame,
    clusters: DataFrame,
    *,
    sim_col: str = "jaccard",
    key_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Audit near-dup clusters against the pair evidence that built
    them: per cluster, the member count, how many candidate pairs fall
    inside it, their mean similarity, and the weakest in-cluster link —
    the numbers that expose chain-collapse (a giant cluster glued
    together by a few borderline pairs) before a dedup pass deletes half
    a corpus on transitive faith.

    Two equi-joins map pair endpoints to clusters; the cluster relation
    is one row per clustered doc — unbounded at corpus scale — so the
    join strategy is left to AQE (it broadcasts when the map is actually
    small, shuffles when it isn't; a forced broadcast would OOM at ~10⁹
    near-dup docs). Aggregates run per cluster. Cross-cluster pairs
    (evidence the clustering REJECTED) are reported under
    cluster_id = NULL so reviewers see both sides."""
    ca = clusters.select(
        F.col(key_col).alias("doc_a"), F.col(cluster_col).alias("__ca")
    )
    cb = clusters.select(
        F.col(key_col).alias("doc_b"), F.col(cluster_col).alias("__cb")
    )
    tagged = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "__cluster",
            F.when(F.col("__ca") == F.col("__cb"), F.col("__ca")),
        )
    )
    # mean over the 9dp integer grid: per-pair similarities are
    # bit-identical across engines, raw-AVG accumulation order is not
    sim_nano = F.floor(
        F.col(sim_col) * 1000000000.0 + F.lit(0.5)
    ).cast("decimal(38,0)")
    pair_stats = tagged.groupBy(F.col("__cluster").alias(cluster_col)).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        round_half_up(
            F.sum(sim_nano).cast("double")
            / (F.count(F.lit(1)) * 1000000000.0),
            6,
        ).alias("mean_sim"),
        round_half_up(F.min(F.col(sim_col)), 6).alias("weakest_link"),
    )
    sizes = clusters.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return pair_stats.join(sizes, cluster_col, "left").select(
        cluster_col,
        F.coalesce("n_members", F.lit(0)).alias("n_members"),
        "n_pairs",
        "mean_sim",
        "weakest_link",
    )


def incremental_lsh_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 50,
) -> DataFrame:
    """Incremental NEAR-dup detection: a new batch against the corpus
    already ingested — ``incremental_dedup`` one tier up (that one
    catches byte-identical text; this one catches the re-crawled page
    with a changed timestamp). Returns verified
    (new_doc, corpus_doc, jaccard) candidate pairs; a pair means the
    new doc duplicates something the corpus already has.

    Scale shape, mirroring the daily-merge contract: only NEW-side ×
    STORE-side band keys join (never store × store — the store was
    already deduped when it was ingested); the store side is the
    (key, band_id, band_key) signature relation, ~32 B/doc/band and
    append-only, so each daily batch shuffles the batch's signatures
    plus reads the store's — never the corpus text. Hot band keys are
    capped by their COMBINED bucket size (``max_bucket_size``), the
    same boilerplate guard as lsh_candidate_pairs. Verification
    join-back computes exact Jaccard for the surviving pairs only.

    The candidate-pair relation is cached (three consumers: the two
    semi-join prunes and the verification spine); the verified result is
    settled (planaudit.settle) and that cache released — the
    triangle_count/pagerank hygiene pattern. Reference parity: extends the incremental-ingest batch
    loop contract (etl_job_manager.cpp:371-407) from exact fingerprints
    to near-dup signatures. Keys must be unique ACROSS the two inputs
    (true of any ingest split of one corpus): the verification shingles
    both sides through one combined pass keyed on ``key_col``."""
    rows = num_hashes // bands

    def banded(docs: DataFrame) -> DataFrame:
        mh = minhash_signatures(
            docs, text_col=text_col, key_col=key_col, n=n,
            num_hashes=num_hashes,
        )
        band_cols = [
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
        return mh.select(
            key_col, F.explode(F.array(*band_cols)).alias("band")
        ).select(key_col, "band.band_id", "band.band_key")

    nb = banded(new_docs).select(
        F.col(key_col).alias("new_doc"), "band_id", "band_key"
    )
    sb = banded(corpus_docs).select(
        F.col(key_col).alias("corpus_doc"), "band_id", "band_key"
    )
    if max_bucket_size is not None:
        sizes = (
            nb.select("band_id", "band_key")
            .unionAll(sb.select("band_id", "band_key"))
            .groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket_size)
            .select("band_id", "band_key")
        )
        nb = nb.join(sizes, ["band_id", "band_key"], "leftsemi")
    pairs = (
        nb.join(sb, ["band_id", "band_key"])
        .select("new_doc", "corpus_doc")
        .dropDuplicates(["new_doc", "corpus_doc"])
        .cache()
    )
    # ONE shingle pass for both sides: new/corpus partition the doc
    # space, so the union of surviving pair endpoints prunes a single
    # combined relation — one semi-join + one spread/shingle stage
    # instead of two of each (same rows shingled either way; the two
    # verification joins then read the same set relation).
    cand_keys = pairs.select(
        F.explode(
            F.array(F.col("new_doc"), F.col("corpus_doc"))
        ).alias(key_col)
    ).distinct()
    both = new_docs.select(
        key_col, text_col
    ).unionByName(corpus_docs.select(key_col, text_col))
    # cached: the set relation feeds BOTH verification joins below — an
    # uncached plan would run the shingle pass once per join
    sets = doc_shingle_sets(
        both.join(cand_keys, key_col, "leftsemi"),
        text_col=text_col,
        key_col=key_col,
        n=n,
    ).cache()
    new_sets = sets.select(
        F.col(key_col).alias("new_doc"), F.col("shingle_set").alias("sa")
    )
    corpus_sets = sets.select(
        F.col(key_col).alias("corpus_doc"), F.col("shingle_set").alias("sb")
    )
    joined = pairs.join(new_sets, "new_doc").join(corpus_sets, "corpus_doc")
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size("sa") + F.size("sb") - inter
    out = joined.select(
        "new_doc",
        "corpus_doc",
        round_half_up(inter / union, 6).alias("jaccard"),
    )
    # pair-sized result: materialize eagerly, then release the candidate
    # and set caches so repeated daily-batch calls don't accumulate
    # storage.
    return settle(out, pairs, sets)


def span_posting(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    span_len: int = 40,
) -> DataFrame:
    """(key, span) posting of every ``span_len``-char span anchored at
    a word start — ONE regex pass per document: the pattern matches
    zero-width at each word start (start-of-text or after a space) and
    CAPTURES the next ``span_len`` chars via lookahead, so overlapping
    spans fall out of a single left-to-right scan and short tails never
    match. ``(?s)`` keeps ``.`` matching newlines inside documents.
    Shared by ``duplicate_spans`` (detection) and
    ``duplicate_span_exposure`` (the per-doc apply/report step)."""
    pattern = "(?s)(?:^|(?<= ))(?=(.{%d}))" % span_len
    # spread before the regex pass: the fixture parquet is one
    # unsplittable file (1 scan task), so without the explicit
    # repartition the whole span extraction runs serially — the
    # shingle_posting pattern (equal keys stay co-located, downstream
    # doc-keyed aggregates reuse the exchange)
    return spread_by(docs.select(key_col, text_col), key_col).select(
        F.col(key_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(pattern), 1)
        ).alias("span"),
    )


def duplicate_spans(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    span_len: int = 40,
    min_docs: int = 2,
    anchor_hex_prefix: str | None = None,
) -> DataFrame:
    """Exact duplicate-SPAN detection (the ExactSubstr tier of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better", public literature): fixed-length character spans anchored
    at WORD STARTS, grouped corpus-wide — a span appearing in
    ≥ ``min_docs`` distinct documents is boilerplate/quotation/template
    text that document-level dedup (exact, MinHash) cannot see, because
    the containing documents differ.

    Anchoring at word boundaries — not a fixed character stride — is
    what makes detection SHIFT-INVARIANT: a duplicated region occupies
    different character offsets in each document, so stride-sampled
    spans only collide when the offsets happen to be congruent mod the
    stride; word starts inside the shared region are at identical
    relative positions in every copy, so any duplicated region with
    ≥ ``span_len`` chars after some internal word start is caught.

    Returns (span, n_docs, n_occurrences). Posting size is |words|
    rows of ``span_len`` bytes; ``anchor_hex_prefix`` is the scale
    knob — keep only anchors whose span md5 starts with the prefix
    (e.g. ``"0"`` → 1/16 content-defined sample, still
    shift-invariant because the selection hashes the CONTENT). At
    100 TB additionally group on md5(span) instead of the span text
    (16-byte binary shuffle keys, the exact_dedup digest trick; span
    text recovered by a semi-join of the tiny frequent-hash set back
    to the postings). The fixture-sized query keeps every anchor and
    groups on the span itself so the oracle is direct.

    Plan shape: ONE regex pass per document extracts every word-start
    span — ``(?s)(?:^|(?<= ))(?=(.{N}))`` matches zero-width at each
    word start (start-of-text or after a space) and CAPTURES the next
    ``span_len`` chars via lookahead, so overlapping spans come out of
    a single left-to-right scan and spans shorter than ``span_len``
    never match (the length filter is free). Because single-space join
    inverts ``split(text, ' ')`` exactly, the captures equal
    ``substring(text, word_offset+1, span_len)`` character-for-
    character — the same spans the previous slice-the-words-array
    shape built, at ~4× less local compute (no 41-element array
    slice + join per word; measured 2.5 s → 0.65 s at sf0.1). ``(?s)``
    keeps ``.`` matching newlines inside documents. No per-doc window,
    and the explode emits only ``span_len``-byte spans: the document
    text never crosses an exchange; the only shuffle is the span-key
    aggregate."""
    spans = span_posting(
        docs, text_col=text_col, key_col=key_col, span_len=span_len
    )
    if anchor_hex_prefix is not None:
        spans = spans.filter(
            F.substring(F.md5("span"), 1, len(anchor_hex_prefix))
            == anchor_hex_prefix
        )
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct(F.col(key_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def duplicate_span_exposure(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    span_len: int = 40,
    min_docs: int = 2,
) -> DataFrame:
    """The APPLY step of ExactSubstr dedup: per document, how much of
    it is corpus-duplicated boilerplate — (key, n_spans,
    n_flagged, flagged_frac) where n_flagged counts the doc's
    word-start spans that appear in ≥ ``min_docs`` distinct documents
    (i.e. ``duplicate_spans`` hits). The downstream decision is
    policy (drop the doc above a threshold, or strip the regions);
    this relation is the evidence either policy reads — the
    ``dedup_cluster_audit`` pattern applied to the span tier.

    Plan shape: the corpus is scanned twice (detection aggregate +
    exposure posting — both are the same one-regex-pass posting,
    ``span_posting``); the flagged-span relation is corpus-duplicated
    BOILERPLATE, orders smaller than the corpus, and stamps a hit flag
    back onto the posting as a broadcast left join feeding ONE per-doc
    aggregate. Docs too short for any span report 0/0/0.0
    via the left join with the doc base. flagged_frac is an integer
    ratio — bit-identical across engines before the display round."""
    # ONE posting feeds both consumers (detection aggregate + exposure
    # stamp): the lazy checkpoint materializes the regex-extract pass
    # once — recomputing it per consumer paid the whole span-extraction
    # scan twice (guide §1.2: don't compute things twice)
    posting = span_posting(
        docs, text_col=text_col, key_col=key_col, span_len=span_len
    ).localCheckpoint(eager=False)
    flagged = (
        posting.groupBy("span")
        .agg(F.countDistinct(F.col(key_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span")
    )
    # one broadcast left join stamps the flag; ONE per-doc aggregate
    # then counts both totals (map-side partial) — never two doc-keyed
    # shuffles of the posting
    marked = posting.join(
        F.broadcast(flagged.withColumn("__hit", F.lit(1))), "span", "left"
    )
    per_doc = marked.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count(F.col("__hit")).alias("n_flagged"),
    )
    base = docs.select(F.col(key_col))
    out = base.join(per_doc, key_col, "left").select(
        F.col(key_col),
        F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
        F.coalesce(F.col("n_flagged"), F.lit(0)).alias("n_flagged"),
    )
    return out.withColumn(
        "flagged_frac",
        F.round(
            F.when(
                F.col("n_spans") > 0,
                F.col("n_flagged") / F.col("n_spans").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )
