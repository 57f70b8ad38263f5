"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side column expressions (no Python UDFs): shingle
hashing via per-word xxhash64 + bit-op window folds, MinHash signatures
and LSH banding as ONE narrow per-row map (zero shuffle — see
minhash_signatures), SimHash via codegen'd conditional sums. At 100 TB
the only shuffle in the MinHash path is the band-bucket self-join,
key-balanced by construction (band hash is uniform), so no salting is
needed here; measured 2→8-core scaling evidence lives in
BENCH/BASELINE.md suite 2.
"""

from __future__ import annotations

from itertools import combinations as _combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import words
from .materialize import RoundMaterializer

# MinHash universal-hash parameters: h_j(x) = (a_j * x + b_j) mod p.
# Fixed seeds → deterministic signatures across runs and cluster sizes.
# p = 2^31-1 keeps a*x+b within a signed 64-bit long under ANSI mode
# (a, x < 2^31 → a*x < 2^62).
_MERSENNE_P = (1 << 31) - 1

# The one near-dup configuration: 5-word shingles, and MinHash
# signatures of 64 permutations banded 16 × 4 rows for LSH. The
# curation chains' DuckDB replays (plans/catalog.py) hard-code the
# same 5-word shingles.
SHINGLE_K = 5
MINHASH_NUM_HASHES = 64
MINHASH_BANDS = 16

# embedding_lsh_signatures' hyperplane count: a 12-bit bucket id.
EMBEDDING_LSH_PLANES = 12

# near_dup_components' round budget; pointer jumping converges in
# O(log diameter) rounds (a 25-doc chain takes ~5).
COMPONENT_MAX_ROUNDS = 20


def _perm_params() -> list[tuple[int, int]]:
    # deterministic LCG-derived (a, b) pairs; a must be non-zero
    params = []
    state = 0x5DEECE66D
    for _ in range(MINHASH_NUM_HASHES):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE_P
        params.append((a, b))
    return params


def _raw_words(text):
    """The MinHash/SimHash word split: trimmed ``text`` split on
    ``\\s+`` with empty tokens KEPT and NULL text left NULL. The
    near-dup oracles pin these semantics, so this is not
    :func:`words`."""
    return F.split(F.trim(text), r"\s+")


def shingle_hash_array(df: DataFrame,
                       keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, shingle_hashes array<bigint>): one 64-bit hash per
    ``SHINGLE_K``-word shingle WITHOUT materializing shingle strings.

    Each word is xxhash64'd once in a bound projection
    (functions/text.py), then every SHINGLE_K-window folds with an
    XOR-rotate combine — bit ops only, so no ANSI overflow and no
    per-shingle string allocation. Short
    documents fall back to the whole text as one shingle so no
    document vanishes.
    """
    with_wh = df.select(
        "doc_id", *keep_cols,
        F.transform(_raw_words(F.col("text")),
                    lambda w: F.xxhash64(w)).alias("_wh"),
    )
    wh = F.col("_wh")
    n = F.size(wh)

    def rot_fold(acc, v):
        return (
            F.shiftleft(acc, 5)
            .bitwiseOR(F.shiftrightunsigned(acc, 59))
            .bitwiseXOR(v)
        )

    zero = F.lit(0).cast("bigint")
    hashes = F.when(
        n >= SHINGLE_K,
        F.transform(
            F.sequence(F.lit(0), n - SHINGLE_K),
            lambda i: F.aggregate(F.slice(wh, i + 1, SHINGLE_K), zero,
                                  rot_fold),
        ),
    ).otherwise(F.array(F.aggregate(wh, zero, rot_fold)))
    return with_wh.select("doc_id", *keep_cols,
                          hashes.alias("shingle_hashes"))


def minhash_signatures(df: DataFrame,
                       keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-document MinHash signature: (doc_id, sig array<bigint>) —
    a NARROW map, zero shuffle.

    A document's shingles are already an array, so the 64 permutation
    minima compute per-row: for each permutation j,
    ``array_min(transform(hashes, h → (a_j·h + b_j) mod p))`` — a tight
    codegen'd loop per j, no shuffle anywhere. The explode + 64-min
    groupBy formulation was value-identical but paid a wide
    hash-aggregate whose working set (64 longs × every in-flight doc)
    thrashes the shared cache as cores scale (measured 30% task-CPU
    inflation 2→8 cores); a fold via aggregate+zip_with was also tried
    and lost 4× to per-step array allocation. This form measured 3.6×
    faster than the groupBy at 8 cores and scales at 0.83 on the 2→8
    pair (BENCH/BASELINE.md suite 2), leaving the LSH bucket join as
    the ONLY exchange in the dedup path (pinned by
    test_minhash_banded_plan_is_narrow).

    Duplicate shingles don't affect a min, so no distinct pass is
    needed. Signatures are deterministic (seeded permutation params)
    but NOT compatible with the pre-change string-hash formulation:
    the old path hashed shingle STRINGS (xxhash64 of concat_ws), the
    current one hashes a rot-XOR fold of per-word hashes, so any
    persisted pre-change signatures must be regenerated. NULL-text
    edge: ``shingle_hash_array`` yields a ``[NULL]`` hash array (the
    fold over a NULL word array is NULL); ngram_jaccard_pairs coalesces
    NULL text to '' before hashing instead.
    """
    P = F.lit(_MERSENNE_P)
    base = shingle_hash_array(df, keep_cols).select(
        "doc_id", *keep_cols,
        F.transform("shingle_hashes", lambda v: F.pmod(v, P)).alias("_hs"),
    )
    sig = F.array(*[
        F.array_min(F.transform(F.col("_hs"),
                                lambda h: (F.lit(a) * h + F.lit(b)) % P))
        for a, b in _perm_params()
    ])
    return base.select("doc_id", *keep_cols, sig.alias("sig"))


def minhash_banded(df: DataFrame,
                   keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, [keep_cols...,] band, bucket) rows: the LSH banding of
    MinHash signatures.

    Exposed separately for callers that own their lineage (the
    streaming prefilter, streaming/neardup_stream.py);
    minhash_lsh_candidates cuts it itself before its self-join.

    ``keep_cols`` carries extra columns (e.g. the event-time column for
    the streaming prefilter) through the otherwise doc_id-only output;
    the whole stage stays a narrow per-row map either way.
    """
    rows_per_band = MINHASH_NUM_HASHES // MINHASH_BANDS
    sig = minhash_signatures(df, keep_cols)
    return sig.select(
        "doc_id", *keep_cols,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", *keep_cols, "bb.band", "bb.bucket")


def minhash_lsh_candidates(df: DataFrame) -> DataFrame:
    """LSH candidate pairs: (doc_a, doc_b, n_shared_bands).

    Signature → ``MINHASH_BANDS`` band-hashes (xxhash64 over each signature
    slice) → explode → intra-bucket equi-join on (band, bucket), never
    a cross join; AQE handles residual bucket skew. Bucket sizes are
    near-uniform, so the pair blow-up is bounded.

    The banded frame feeds both sides of the self-join, so it is cut
    once: uncut, the shingle→signature pipeline (the expensive part)
    runs once per join side, ~2× the query.
    """
    banded = RoundMaterializer()(minhash_banded(df), "banded")
    return (
        banded.alias("l").join(banded.alias("r"), ["band", "bucket"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        candidate_pairs: DataFrame | None = None) -> DataFrame:
    """Exact ``SHINGLE_K``-gram Jaccard similarity.

    Distinct-shingle self-join: |A∩B| from the shingle equi-join,
    |A∪B| = |A|+|B|-|A∩B|. Stop-shingle skew is killed by dropping
    ultra-frequent shingles (document-frequency cap: >1% of docs,
    min 100) via a broadcast anti-join of the over-cap keys — the df
    counts come from a map-side-combined groupBy, and the doc total
    from a 1-row agg folded into the same plan (no driver count, no
    full (doc, shingle) window shuffle).

    ``candidate_pairs`` (doc_a, doc_b — e.g. MinHash-LSH output) turns
    this into a *scoring* operator: shingles are semi-joined down to
    candidate docs and the pair stream is filtered to the candidate set
    before aggregation. This is the 100-TB path — corpus-wide pair
    generation is only sane for small/filtered corpora.

    Shingles are per-shingle 64-bit hashes (the zero-allocation
    rot-XOR fold from shingle_hash_array), not shingle STRINGS: the
    self-join shuffles bigints, not ~30-byte strings — measured 2.3×
    faster than the string formulation and materially better 2→8-core
    scaling on the suite-3 corpus (the string shuffle was DRAM-bound).
    Counts are exact up to 64-bit hash collisions (expected collisions
    ≈ n_distinct²/2⁶⁵ — ~1e-4 ACROSS a 77M-shingle corpus, each worth
    ±1 on one n_shared). Text is coalesced to '' first, so the ''
    shingle maps to one non-NULL hash and empty docs can still pair
    with each other.

    The capped stream (candidate-filtered, when candidates are given)
    feeds the per-doc sizes and both sides of the intersection
    self-join, so it is cut once — uncut, each consumer replays the
    explode and the anti/semi joins. Only that small stream is cut:
    cutting the full pre-cap stream as well measured WORSE 8-core wall
    at 2M docs (the ~133M-row executor store's GC/eviction pressure,
    BENCH round 5).
    """
    safe = df.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    sh = shingle_hash_array(safe).select(
        "doc_id",
        F.explode(F.array_distinct("shingle_hashes")).alias("shingle"),
    )
    n_docs_1row = df.select(F.count("*").alias("n_docs"))
    over_cap = (
        sh.groupBy("shingle").agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs_1row))
        .where(F.col("df") >
               F.greatest(F.floor(F.col("n_docs") * 0.01), F.lit(100)))
        .select("shingle")
    )
    sh = sh.join(F.broadcast(over_cap), "shingle", "left_anti")
    if candidate_pairs is not None:
        # canonicalize orientation: pair_stream enforces doc_a < doc_b,
        # so a caller-supplied (b, a) pair must still match — least/
        # greatest re-orient it instead of silently never scoring it
        cand = candidate_pairs.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sh = sh.join(cand_docs, "doc_id", "left_semi")
    sh = RoundMaterializer()(sh, "capped_shingles")

    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    pair_stream = (
        sh.alias("a").join(sh.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if candidate_pairs is not None:
        # keep only LSH-candidate pairs before the expensive aggregate
        pair_stream = pair_stream.join(cand, ["doc_a", "doc_b"], "left_semi")
    inter = pair_stream.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_shared"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_shingles", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_shingles", "size_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_shared")
                    / (F.col("size_a") + F.col("size_b") - F.col("n_shared")), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )


def simhash_64(df: DataFrame) -> DataFrame:
    """64-bit SimHash per document: (doc_id, simhash bigint).

    Token-hash bit votes, all JVM-side: explode tokens → xxhash64 →
    64 conditional-sum aggregates (one per bit) → reassembled long.
    Near-dup detection = small Hamming distance between simhashes.

    Deliberately the explode + groupBy formulation, NOT a per-row
    higher-order fold like minhash_signatures: Spark evaluates
    transform/aggregate lambdas on the interpreted path (no
    whole-stage codegen), and a 64-aggregate per-row fold measured 2×
    slower than these fully-codegen'd conditional sums. The shuffle
    this buys back is small — map-side partial aggregation sends ~64
    ints per doc, comparable to the 4-chunk LSH join that follows
    anyway.
    """
    tokens = df.select(
        "doc_id",
        F.explode(_raw_words(F.col("text"))).alias("token"),
    ).withColumn("h", F.xxhash64("token"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = tokens.groupBy("doc_id").agg(*votes)
    bits = [
        F.when(F.col(f"b{i}") > 0,
               F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(F.lit(0).cast("bigint"))
        for i in range(64)
    ]
    acc = bits[0]
    for b in bits[1:]:
        acc = acc.bitwiseOR(b)
    return agg.select("doc_id", acc.alias("simhash"))


def _simhash_blocks(n_blocks: int) -> list[tuple[int, int]]:
    """Split 64 bits into ``n_blocks`` near-equal (offset, size) blocks."""
    base, rem = divmod(64, n_blocks)
    sizes = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    out, off = [], 0
    for s in sizes:
        out.append((off, s))
        off += s
    return out


def _hamming_filter(pairs: DataFrame, max_distance: int) -> DataFrame:
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_hamming_pairs(df: DataFrame, max_distance: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_distance.

    Blocking is the Manku/Jain/Das Sarma construction (WWW'07, the
    SimHash-at-Google paper): split the 64-bit fingerprint into
    ``d+3`` near-equal blocks and key each document on every
    C(d+3, 3) combination of 3 blocks. Pigeonhole: at most ``d`` bits
    differ ⇒ at most ``d`` blocks are dirty ⇒ at least 3 blocks are
    clean ⇒ the pair collides on that 3-block combination — so recall
    is exact, and the join stays a pure equi-join on
    (combo_idx, key_val), never a cross join.

    Scale math (why not 4×16-bit chunks, the round-2 form): a 16-bit
    chunk has 65,536 distinct values, so at N docs the expected bucket
    holds N/2¹⁶ rows and intra-bucket pairing is Σ bucket² — quadratic
    in N (a scale-killer at ≥10⁹ docs). A 3-block key at d=3 carries
    ~32 bits (11+11+10) → 4×10⁹ distinct values, bucket occupancy
    N/4×10⁹ — linear pair volume up to trillions of documents. The
    price is C(6,3)=20 exploded rows per doc instead of 4; each row is
    (bigint, int, bigint), so the shuffle grows 5× in row count but
    stays tiny per row — the right trade at 100 TB. Candidates are
    exact-verified with bit_count XOR, so output = true pairs exactly;
    equivalence with the chunked form is pinned by test
    (tests/test_operators.py keeps that twin).

    The keyed frame feeds both sides of the self-join, so it is cut
    once: uncut, the token explode + 64 bit-vote aggregation (the
    expensive stage) runs once per side, measured ~2× the whole query
    at sf1.0.
    """
    n_blocks = max_distance + 3
    combos = list(_combinations(range(n_blocks), 3))
    blocks = _simhash_blocks(n_blocks)
    sig = simhash_64(df)

    def block_val(i: int):
        off, size = blocks[i]
        return (F.shiftrightunsigned("simhash", off)
                .bitwiseAND(F.lit((1 << size) - 1)))

    keys = []
    for ci, combo in enumerate(combos):
        key = F.lit(0).cast("bigint")
        for i in combo:
            key = F.shiftleft(key, blocks[i][1]).bitwiseOR(block_val(i))
        keys.append(F.struct(F.lit(ci).alias("combo_idx"),
                             key.alias("key_val")))
    keyed = sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*keys)).alias("c"),
    ).select("doc_id", "simhash", "c.combo_idx", "c.key_val")
    keyed = RoundMaterializer()(keyed, "simhash_keyed")
    pairs = (
        keyed.alias("a").join(keyed.alias("b"), ["combo_idx", "key_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _hamming_filter(pairs, max_distance)


def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic gaussian hyperplanes (seeded, no wall clock)."""
    import random

    rng = random.Random(7)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def embedding_lsh_signatures(emb: DataFrame, dim: int) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) bucket per embedding.

    All planes live in ONE flattened literal array (a single Literal
    node — at 12 planes × 1024 dims the old per-dimension F.lit form
    put ~12k expressions in the plan and bloated codegen/driver memory;
    review finding). Plane i is ``slice(flat, i*dim+1, dim)``; the dot
    products fold with zip_with/aggregate — pure JVM expressions, no
    UDF. The bucket id packs the sign bits (sum of distinct powers of
    two ≡ bitwise OR). Cosine-similar vectors collide with probability
    (1 - θ/π)^EMBEDDING_LSH_PLANES.
    """
    planes = _hyperplanes(EMBEDDING_LSH_PLANES, dim)
    flat = F.lit([float(v) for plane in planes for v in plane])
    pows = F.lit([1 << i for i in range(EMBEDDING_LSH_PLANES)])
    dots = F.transform(
        F.sequence(F.lit(0), F.lit(EMBEDDING_LSH_PLANES - 1)),
        lambda i: F.aggregate(
            F.zip_with(F.col("embedding"), F.slice(flat, i * dim + 1, dim),
                       lambda x, p: x.cast("double") * p),
            F.lit(0.0), lambda acc, v: acc + v,
        ),
    )
    sig = F.aggregate(
        F.zip_with(dots, pows,
                   lambda d, p: F.when(d >= 0, p.cast("bigint"))
                   .otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"), lambda acc, v: acc + v,
    )
    return emb.select("vec_id", "embedding", sig.alias("lsh_bucket"))


def embedding_near_dups(emb: DataFrame, dim: int) -> DataFrame:
    """Embedding-cosine near-duplicates (cosine >= 0.95): LSH bucket
    join + exact verify.

    The candidate join is an equi-join on the 12-plane bucket id (never
    a cross join); survivors are re-scored with the exact cosine so the
    output is threshold-exact, merely recall-approximate.
    """
    from .similarity import cosine_similarity_col

    sig = embedding_lsh_signatures(emb, dim)
    a, b = sig.alias("a"), sig.alias("b")
    cos = cosine_similarity_col(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(b, "lsh_bucket")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.round(cos, 4).alias("cosine_sim"))
        .where(F.col("cosine_sim") >= 0.95)
    )


def _components_driver_side(edges: DataFrame, pairs: DataFrame) -> DataFrame:
    """Union-find over a size-gated edge list (see near_dup_components).

    ``edges`` is the materialized directed edge set (both orientations,
    distinct); the result schema takes the id type from ``pairs``.
    Canonical label = the minimum member of each component under the
    id column's natural order — identical to the distributed loop's
    min-label fixpoint.
    """
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edges.select("src", "dst").collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the running root IS the canonical label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(x, find(x)) for x in parent]
    id_type = pairs.schema["doc_a"].dataType
    schema = StructType([StructField("doc_id", id_type, True),
                         StructField("component", id_type, True)])
    return edges.sparkSession.createDataFrame(out, schema)


def near_dup_components(pairs: DataFrame,
                        small_graph_max_edges: int = 200_000) -> DataFrame:
    """Connected components over near-dup pairs → duplicate clusters.

    Pairwise candidates (MinHash/SimHash/embedding LSH) are not enough
    to dedup a corpus: A~B and B~C must collapse into one group even if
    A~C was never emitted. Each round does (1) min-label over
    neighbors, then (2) pointer jumping — every doc also adopts its
    current label's label — so convergence is O(log diameter), not
    O(diameter) (a 25-doc drifting-edit chain converges in ~5 rounds,
    not 24). Rounds are joins + aggregates, all JVM-side. If the loop
    exhausts ``COMPONENT_MAX_ROUNDS`` without reaching the fixpoint it
    RAISES —
    silently wrong components would split real duplicate clusters.

    Per-round cost is ONE job (round-3 verdict #6): the previous label
    rides along as ``_prev``, so the convergence check is a join-free
    aggregate over the round's output, and in local mode the round's
    lazy localCheckpoint materializes inside that same aggregate (the
    old shape paid an eager-checkpoint job PLUS a join-based
    ``limit(1).count()`` job per round).

    In reliable mode (operators/materialize.py) superseded rounds are
    deleted as the loop advances.

    Input: (doc_a, doc_b) pairs. Output: (doc_id, component) where
    component is the lexicographically-smallest member — the canonical
    document to KEEP when deduping.

    ``small_graph_max_edges``: below this DIRECTED-edge count the
    components are solved with a driver-side union-find instead of the
    distributed loop — the same kind of bounded, size-gated driver
    decision as a broadcast-join threshold. Near-dup graphs are tiny
    relative to their corpora (edges exist only between near-identical
    docs), so the common case pays one bounded collect instead of
    4-6 per-round jobs; a genuinely large graph (mass-duplication)
    exceeds the gate and takes the scale-safe iterative path. The
    union-find uses min-label canonicalization under Python's string /
    int ordering, which matches Spark's (UTF-8 byte order preserves
    code-point order), so both paths are value-identical — pinned by
    test.
    """
    mat = RoundMaterializer()
    edges = mat(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                  F.col("doc_a").alias("dst")))
        .distinct(),
        # materialize: edges join into EVERY round — without this the
        # whole upstream candidate pipeline (MinHash etc.) re-executes
        # once per round per union branch (measured 2.4× on the dedup
        # scaling suite)
        "edges",
    )
    if small_graph_max_edges > 0 and edges.count() <= small_graph_max_edges:
        return _components_driver_side(edges, pairs)
    labels = mat(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id")),
        "labels_init",
    )
    prev_tag = "labels_init"
    for i in range(COMPONENT_MAX_ROUNDS):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("component").alias("neighbor_component"))
        )
        stepped = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce("neighbor_component", F.col("component")),
                ).alias("component"),
                F.col("component").alias("_prev"),
            )
        )
        # pointer jumping: adopt the label of my label (log-step closure)
        lab2 = stepped.select(F.col("doc_id").alias("_c_doc"),
                              F.col("component").alias("_c_comp"))
        updated = mat(
            stepped.join(lab2, stepped.component == F.col("_c_doc"), "left")
            .select(
                "doc_id",
                F.least(F.col("component"),
                        F.coalesce("_c_comp", F.col("component"))).alias("component"),
                "_prev",
            ),
            f"labels_{i}",
        )
        changed = updated.agg(
            F.count(F.when(F.col("component") != F.col("_prev"), F.lit(1)))
            .alias("n")
        ).collect()[0]["n"]
        mat.release(prev_tag)
        prev_tag = f"labels_{i}"
        labels = updated.select("doc_id", "component")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"near_dup_components did not converge in {COMPONENT_MAX_ROUNDS} "
        "rounds — component diameter exceeds the iteration budget; raise "
        "dedup.COMPONENT_MAX_ROUNDS"
    )


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """(component, size, doc_ids) — one row per near-dup cluster."""
    comp = near_dup_components(pairs)
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("cluster_size"),
             F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .where(F.col("cluster_size") > 1)
    )


def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """Exact dedup groups by content hash (A10, s3_client.py:243-270)."""
    return (
        df.select("doc_id",
                  F.sha2(F.col("text").cast("binary"), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("group_size"),
             F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .where(F.col("group_size") > 1)
    )


def c4_span_dedup(docs: DataFrame) -> DataFrame:
    """C4's corpus-level three-sentence-span dedup (Raffel et al. 2020
    §2.2: "we discarded all but one of any three-sentence span
    occurring more than once in the data set") — the dedup rule that
    completes the public C4 canon beside the line/page filters
    (``textstats.c4_line_filter``).

    Pinned semantics (replayed exactly by the DuckDB oracle):

    * a sentence is a trimmed match of ``[^.!?]+[.!?]+`` — terminal
      punctuation stays attached; an un-terminated trailing fragment
      is dropped (in the real C4 pipeline span dedup runs AFTER the
      line filter, where every surviving line ends in terminal
      punctuation, so such fragments do not occur; the approximation
      is documented like c4_line_filter's sentence count);
    * a span at 0-based position q covers sentences q..q+2; its key is
      md5 of the three sentences joined by US (``\\x1f``);
    * the canonical occurrence of a duplicated span is the global
      minimum ``(doc_id, q)`` (lexicographic string doc_id); every
      OTHER occurrence marks its three sentences for removal;
    * a sentence survives iff no non-canonical duplicate span covers
      it; ``clean_text`` is the survivors joined by one space.

    Output: (doc_id, clean_text, n_sentences, n_removed, n_dup_spans),
    one row per input document (docs with <3 sentences pass through
    whole).

    Scale shape: sentence/span construction is a per-row array fold
    (zero shuffle); only slim (doc_id, q, h) occurrence rows reach the
    two span-keyed exchanges (map-side-combined min/count agg, then
    the join back), so sentence TEXT never rides a span-keyed shuffle.
    The final removal-list join is doc-keyed: broadcast when the
    aggregated dup lists fit (the plan-verified common case), else a
    uniform-key shuffle — never a hot-key one. A
    boilerplate span repeated across millions of pages is a hot h key
    on the join-back — AQE skew-join splits it (enabled in
    session.get_spark); removal lists ride doc-keyed joins. No UDFs.
    """
    sep = "\x1f"
    t = F.coalesce(F.col("text"), F.lit(""))
    sent = docs.select(
        "doc_id",
        F.filter(
            F.transform(
                F.regexp_extract_all(t, F.lit(r"[^.!?]+[.!?]+"), F.lit(0)),
                lambda s: F.trim(s)),
            lambda s: s != "",
        ).alias("ss"),
    )
    n = F.size("ss")
    # 1-based span start indices; sequence(1, 0) would count DOWN, so
    # docs with <3 sentences get an explicit empty index array
    idxs = F.when(n >= 3, F.sequence(F.lit(1), n - 2)) \
            .otherwise(F.array().cast("array<int>"))
    with_spans = sent.withColumn(
        "spans",
        F.transform(idxs, lambda i: F.md5(F.concat_ws(
            sep, F.element_at("ss", i), F.element_at("ss", i + 1),
            F.element_at("ss", i + 2)).cast("binary"))),
    )
    occ = with_spans.select(
        "doc_id", F.posexplode("spans").alias("q", "h"))  # q is 0-based
    span_stats = occ.groupBy("h").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct("doc_id", "q")).alias("first_occ"),
    )
    dups = (
        occ.join(span_stats.where(F.col("cnt") > 1), "h")
        .where((F.col("doc_id") != F.col("first_occ.doc_id"))
               | (F.col("q") != F.col("first_occ.q")))
        .groupBy("doc_id")
        .agg(F.collect_list("q").alias("qs"),
             F.count("*").alias("n_dup_spans"))
    )
    merged = sent.join(dups, "doc_id", "left").select(
        "doc_id", "ss",
        F.coalesce("qs", F.array().cast("array<int>")).alias("qs"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("int").alias("n_dup_spans"),
    )
    covered = lambda i: F.exists(
        "qs", lambda q: (q <= i) & (i <= q + 2))
    kept = F.filter("ss", lambda s, i: ~covered(i))
    return merged.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("ss").cast("int").alias("n_sentences"),
        (F.size("ss") - F.size(kept)).cast("int").alias("n_removed"),
        "n_dup_spans",
    )


def exact_substr_dedup(docs: DataFrame, window: int = 50) -> DataFrame:
    """ExactSubstr-style corpus dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): any ``window``-token
    substring occurring more than once in the corpus keeps only its
    global first occurrence; every other occurrence's covered tokens
    are removed and the survivors rebuilt. Completes the dedup canon
    beside the sentence-span rule (:func:`c4_span_dedup`) — this is
    the token-window generalization with position-wise overlap
    merging: adjacent duplicated windows merge into one removed span
    through the covered-token rule, exactly like the paper's
    suffix-array ranges.

    Pinned semantics (replayed exactly by the DuckDB oracle):

    * a token is a whitespace-split non-empty string, CASE PRESERVED —
      the paper operates on raw bytes, so unlike the similarity
      operators there is no folding (documented approximation: token
      windows instead of byte offsets, so removal happens at token
      granularity);
    * the window at 0-based token position q covers tokens
      q..q+window-1; its key is a hash of the tokens joined by US
      (``\\x1f``) — xxhash64 (a slim 8-byte shuffle key; the DuckDB
      oracle groups by md5 instead, which partitions the windows
      identically because the key never reaches the output — a
      cross-engine count divergence would need a collision in one
      engine only, ~2^-64 per window pair, the same budget every
      hash-keyed operator here accepts);
    * the canonical occurrence of a duplicated window is the global
      minimum ``(doc_id, q)`` (lexicographic string doc_id); every
      other occurrence marks its covered tokens for removal;
    * a token survives iff no non-canonical duplicate window covers
      it; docs with fewer than ``window`` tokens have no windows and
      pass through whole (the paper cannot dedup below its match
      length either).

    Output: (doc_id, clean_text, n_tokens, n_removed, n_dup_windows),
    one row per input document.

    Scale shape: identical to c4_span_dedup — window construction is a
    per-row fold (zero shuffle); only slim (doc_id, q, h) rows reach
    the window-keyed agg + join-back (AQE splits boilerplate hot
    keys); removal lists ride a doc-keyed join. The paper's
    suffix-array is a single-node construction; this formulation is
    the shuffle-bounded distributed equivalent for fixed match length.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    sep = "\x1f"
    toks = docs.select("doc_id", words(F.col("text")).alias("ws"))
    n = F.size("ws")
    idxs = F.when(n >= window, F.sequence(F.lit(1), n - (window - 1))) \
            .otherwise(F.array().cast("array<int>"))
    wins = F.transform(idxs, lambda i: F.xxhash64(
        F.concat_ws(sep, F.slice("ws", i, window))))
    # posexplode the window EXPRESSION over the bound words, never a
    # bound array attribute (functions/text.py); q is 0-based
    occ = toks.select("doc_id", F.posexplode(wins).alias("q", "h"))
    win_stats = occ.groupBy("h").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct("doc_id", "q")).alias("first_occ"),
    )
    dups = (
        occ.join(win_stats.where(F.col("cnt") > 1), "h")
        .where((F.col("doc_id") != F.col("first_occ.doc_id"))
               | (F.col("q") != F.col("first_occ.q")))
        .groupBy("doc_id")
        .agg(F.collect_list("q").alias("qs"),
             F.count("*").alias("n_dup_windows"))
    )
    merged = toks.join(dups, "doc_id", "left").select(
        "doc_id", "ws",
        F.coalesce("qs", F.array().cast("array<int>")).alias("qs"),
        F.coalesce("n_dup_windows", F.lit(0)).cast("int")
        .alias("n_dup_windows"),
    )
    covered = lambda i: F.exists(
        "qs", lambda q: (q <= i) & (i <= q + (window - 1)))
    kept = F.filter("ws", lambda w, i: ~covered(i))
    return merged.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("ws").cast("int").alias("n_tokens"),
        (F.size("ws") - F.size(kept)).cast("int").alias("n_removed"),
        "n_dup_windows",
    )


def line_dedup(docs: DataFrame, min_doc_freq: int = 2) -> DataFrame:
    """RefinedWeb-style exact LINE dedup (Penedo et al. 2023 §3.2/G:
    "remove duplicated lines" — the line-granularity boilerplate rule
    that nav bars, cookie banners, and footers fall to): any line whose
    trimmed form appears in at least ``min_doc_freq`` DISTINCT
    documents is removed from EVERY document — no canonical survivor,
    unlike :func:`c4_span_dedup` / :func:`exact_substr_dedup`, because
    a line shared across sites is boilerplate, not content (the
    paper's motivation; pinned here).

    Pinned semantics (replayed exactly by the DuckDB oracle):

    * lines are ``split(text, '\\n')`` of the null-coalesced text —
      an empty/NULL document yields ONE empty line (both engines
      agree), which survives untouched;
    * a line's dedup key is its TRIMMED text; whitespace-only lines
      are never candidates and always survive (removing them would
      mangle paragraph structure for zero dedup value);
    * the criterion is distinct-DOCUMENT frequency, not occurrence
      count: a document repeating its own unique line keeps it
      (in-doc repetition is Gopher's job, not boilerplate removal);
    * removal is by key, rebuild preserves the ORIGINAL (untrimmed)
      surviving lines joined by ``'\\n'``.

    Output: (doc_id, clean_text, n_lines, n_removed), one row per
    input document.

    Scale shape: line splitting is a per-row projection (zero
    shuffle); only slim (doc_id, q, h) occurrence rows reach the
    key-keyed exchanges — the distinct-doc count is a two-phase
    (h, doc_id)-then-h aggregation, map-side combined on uniform md5
    keys; the join back onto occurrences hits hot h keys exactly where
    boilerplate is common (that IS the signal) — AQE skew-join splits
    them (enabled in session.get_spark) and only 8-byte-key rows ride
    the split; removal positions return on a doc-keyed join. Line TEXT
    never rides a key-keyed shuffle. No UDFs.
    """
    if min_doc_freq < 2:
        raise ValueError(f"min_doc_freq must be >= 2, got {min_doc_freq}")
    t = F.coalesce(F.col("text"), F.lit(""))
    lined = docs.select(
        "doc_id",
        F.split(t, "\n", -1).alias("ls"),
    )
    occ = (
        lined.select("doc_id", F.posexplode("ls").alias("q", "line"))
        .select("doc_id", "q", F.trim("line").alias("key"))
        .where(F.col("key") != "")
        .select("doc_id", "q", F.md5(F.col("key").cast("binary")).alias("h"))
    )
    boiler = (occ.groupBy("h")
              .agg(F.count_distinct("doc_id").alias("df"))
              .where(F.col("df") >= min_doc_freq)
              .select("h"))
    removals = (occ.join(boiler, "h")
                .groupBy("doc_id")
                .agg(F.collect_list("q").alias("qs")))
    merged = lined.join(removals, "doc_id", "left").select(
        "doc_id", "ls",
        F.coalesce("qs", F.array().cast("array<int>")).alias("qs"),
    )
    kept = F.filter("ls", lambda l, i: ~F.array_contains("qs", i))
    return merged.select(
        "doc_id",
        F.concat_ws("\n", kept).alias("clean_text"),
        F.size("ls").cast("int").alias("n_lines"),
        (F.size("ls") - F.size(kept)).cast("int").alias("n_removed"),
    )


def strip_repeated_lines(docs: DataFrame) -> DataFrame:
    """WITHIN-document repeated-line removal — the intra-doc
    line-wise correction of the public curation canon (RefinedWeb
    §3.2/G removes duplicated lines; MassiveText/Gopher measure the
    duplicate-line fraction and this operator is the cleaning
    counterpart of that gate): every line keeps only its FIRST
    occurrence inside the document, later trim-equal repeats are
    dropped.  Complements :func:`line_dedup` exactly — that one
    removes lines shared ACROSS documents (boilerplate, no survivor),
    this one dedups repeats INSIDE a document (first occurrence
    survives); a paginated article whose every page repeats the same
    header keeps one copy here.

    Pinned semantics (replayed exactly by the ``repeated_line_strip``
    oracle):

    * lines are ``split(text, '\\n')`` of the null-coalesced text
      (empty/NULL doc → one empty line, untouched);
    * a line's match key is its TRIMMED text, case-sensitive;
      whitespace-only lines always survive (structure, not content);
    * line i survives iff its key is blank OR the FIRST index of its
      key among the doc's trimmed keys is i (Spark ``array_position``
      is 1-based over a BOUND key-array column, projected first for
      the reason functions/text.py gives for word arrays);
    * rebuild joins the ORIGINAL surviving lines with ``'\\n'``.

    Output: (doc_id, clean_text, n_lines, n_removed), the same shape
    as :func:`line_dedup` so the two stages compose.

    Scale shape: pure per-row higher-order projections — ZERO shuffle,
    rides the scan at 100 TB.  Per-row cost is O(L²) in the doc's line
    count (an ``array_position`` scan per line); web documents are
    hundreds of lines, and even a pathological 10⁴-line doc costs ~10⁸
    cheap JVM string compares on ONE row of ONE task — no wide stage
    ever sees it.
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    lined = docs.select(
        "doc_id",
        F.split(t, "\n", -1).alias("ls"),
    ).withColumn("ks", F.transform("ls", lambda x: F.trim(x)))
    kept = F.filter(
        "ls",
        lambda x, i: (F.trim(x) == "")
        | (F.array_position("ks", F.trim(x)) == i + F.lit(1)),
    )
    return lined.select(
        "doc_id",
        F.concat_ws("\n", kept).alias("clean_text"),
        F.size("ls").cast("int").alias("n_lines"),
        (F.size("ls") - F.size(kept)).cast("int").alias("n_removed"),
    )
