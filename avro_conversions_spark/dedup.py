"""Deduplication operators for document tables at training-data scale.

Scale design (100 TB of documents, 1000 executors):
- exact: hash-groupBy on md5(text) — map-side partial agg, one shuffle of
  (hash, count) pairs, never the text itself.
- minhash LSH: row-local signature (tokens → shingles → per-seed
  min-hash in one projection, no shuffle) → band keys → self-join
  *within buckets only*. The candidate join is banded so the shuffle is
  bucket-local; a global doc×doc cross join never exists.
- ngram Jaccard verification runs only on LSH candidates (or on small
  tables directly).
- simhash / embedding near-dup: bucket by a short signature, verify with
  cosine within buckets.

All hash functions are md5-derived so the DuckDB oracle can reproduce
values bit-for-bit (xxhash64 would be faster; md5 keeps the correctness
gate honest — swap via ``hash_fn`` for production).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from avro_conversions_spark.functions.text import fingerprint, shingles
from avro_conversions_spark.functions.vectors import (
    simhash_bits,
    stage_vec,
    staged_cos,
)
from avro_conversions_spark.session import persist_for_replay


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, dup_count, min id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("keep_id"))
        .where(F.col("dup_count") > 1)
    )


def fingerprint_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-exact duplicates under formatting noise (normalized-text md5)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("keep_id"))
        .where(F.col("dup_count") > 1)
    )


def doc_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    # two-stage select: tokens materialized as a column BEFORE shingling so
    # the split() isn't re-evaluated inside every transform-lambda element_at
    from avro_conversions_spark.functions.text import shingles_from_tokens, tokens

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    return toks.select(
        F.col(id_col), F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle")
    )


def _minhash_sig(shingles: Column, num_hashes: int, hash_fn: str) -> Column:
    """Array of ``num_hashes`` per-seed min-hashes over a STAGED shingle
    array column.

    ``hash_fn``: 'md5' is DuckDB-reproducible — the correctness oracle
    recomputes it bit-for-bit; 'xxhash' is the production path — xxhash64
    is UTF8String-native (no hex-string round trip: the md5 form allocates
    a hex string, substrings it, and string-parses it back per hash, which
    at 24 hashes/row is allocation-bound, measured ~8x slower)."""
    if hash_fn not in ("md5", "xxhash"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")

    def seed_min(s: Column) -> Column:
        if hash_fn == "xxhash":
            return F.array_min(F.transform(shingles, lambda sh: F.xxhash64(s, sh)))
        # md5: min over the FULL hex strings, then one substring+conv on
        # the winner: fixed-length lowercase hex orders lexicographically
        # exactly like its numeric value, so argmin is unchanged and the
        # per-(shingle × seed) conv/substring of the historical form
        # collapses to once per seed — measured 1.7 → 1.25 s at sf0.1,
        # values bit-identical (oracle formula untouched).
        return F.conv(
            F.substring(
                F.array_min(
                    F.transform(shingles, lambda sh: F.md5(F.concat(s.cast("string"), sh)))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    sig_raw = F.transform(F.sequence(F.lit(0), F.lit(num_hashes - 1)), seed_min)
    # CollapseProject inlines a staged column referenced ONCE into its
    # consumer — even into a higher-order-function lambda, where "once"
    # textually means once PER OUTER ELEMENT at runtime. With the shingle
    # array inlined into the seed transform, shingling re-ran once per
    # seed: measured 32-44 s vs 11-13.5 s (3x) on a 4.2M-turn table at
    # local[32], identical signatures. The size() guard adds a second
    # reference so the optimizer keeps the projection materialized
    # (semantically a no-op: size(null array) propagates null, and the
    # signature of a null text is null either way). Plan shape pinned by
    # test_minhash_plan_stages_shingles_once.
    return F.when(F.size(shingles) >= 0, sig_raw)


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "minhash_sig",
    num_hashes: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "md5",
    tokens_col: str | None = None,
) -> DataFrame:
    """ROW-LOCAL MinHash signature: ``out_col`` = array of ``num_hashes``
    min-hashes computed entirely within each row (tokens → shingles →
    per-seed min over ``hash_fn`` hashes, see ``_minhash_sig``) — no
    explode, no shuffle.

    This is the 100 TB signature path: an explode + groupBy form
    shuffles docs × shingles × seeds rows, which at 10^12 turns is
    petabytes of exchange; the row-local form is a pure projection that
    rides the SAME scan as everything else and emits exactly one array per
    document (values pinned against a pure-Python md5 reference by
    test_row_local_minhash_matches_grouped). Shuffle-free also means the
    banding/bucket join downstream can partition however it likes.

    Intermediate token/shingle arrays are staged as real columns — Spark
    does not CSE across lambda boundaries, so inlining them would
    re-evaluate the tokenizer once per seed."""
    from avro_conversions_spark.functions.text import shingles_from_tokens, tokens

    # ``tokens_col``: callers that already staged the token array (e.g. a
    # min-token filter) pass it here so the tokenizer runs once per row,
    # not once for the filter and again for the signature (round 6).
    toks = F.col(tokens_col) if tokens_col else tokens(F.col(text_col))
    staged = df.withColumn("_mh_toks", toks).withColumn(
        "_mh_shingles", shingles_from_tokens(F.col("_mh_toks"), shingle_n)
    )
    sig = _minhash_sig(F.col("_mh_shingles"), num_hashes, hash_fn)
    return staged.withColumn(out_col, sig).drop("_mh_toks", "_mh_shingles")


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, band, band_key) LSH band rows from the ROW-LOCAL signature
    (``with_minhash_signature``): the signature array is a pure projection
    on the corpus scan — no explode-to-shingles, no (doc × shingle × seed)
    exchange — and each band key is a slice of that array. Zero shuffles:
    projection + one posexplode of ``ceil(num_hashes / band_size)`` short
    rows per document (plan pinned by
    test_lsh_candidates_band_from_rowlocal_sig). Candidate pairs equal a
    pure-Python md5 signature + banding reference, pinned by the parity
    half of that test."""
    sig = with_minhash_signature(
        df.select(F.col(id_col), F.col(text_col)),
        text_col,
        out_col="_mh_sig",
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        hash_fn=hash_fn,
    ).select(F.col(id_col), F.col("_mh_sig"))
    n_bands = -(-num_hashes // band_size)  # ceil: trailing partial band kept
    band_keys = F.array(
        *[
            F.concat_ws(
                "_",
                F.sort_array(F.slice(F.col("_mh_sig"), b * band_size + 1, band_size)),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.posexplode(band_keys).alias("band", "band_key")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-duplicate pairs: docs agreeing on all hashes of at
    least one band. Join is per-(band, band_key) bucket — shuffle stays
    bucket-local, no global cross join.

    The band rows come from ``minhash_band_keys`` (row-local signature,
    zero shuffles) and are materialized ONCE via localCheckpoint (lazy:
    the first consuming job computes-and-caches them — one fewer driver
    round trip than eager) before the self-join: both join sides — and
    every downstream reference from consumers like ngram_jaccard_pairs —
    read the materialized band rows instead of re-deriving the signature pipeline
    (the planner broadcasts one join side, and a broadcast build side
    cannot share work with the streamed side, so without the checkpoint
    the corpus was scanned and hashed twice per reference). The
    checkpointed frame is the lightweight proxy of guide-§8: a few short
    rows per document, never the text."""
    banded = minhash_band_keys(
        df, text_col, id_col, num_hashes, band_size, shingle_n, hash_fn
    ).localCheckpoint(eager=False)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def edit_distance_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 200,
) -> DataFrame:
    """Exact character-level verification of candidate near-dup pairs:
    (id_a, id_b, edit_dist, edit_sim). The third verification lens next
    to shingle-Jaccard (set overlap, order-blind) and embedding cosine
    (semantic): Levenshtein catches small in-place edits that shuffle
    few shingles and certifies byte-closeness.

    Levenshtein is O(len²) per pair — unbounded document lengths would
    make one hot pair a straggler — so comparison is bounded to the
    first ``prefix_len`` chars (the standard prefix-sketch compromise;
    two near-dup documents that diverge only after the prefix still
    score 1.0, which is what LSH candidates + downstream Jaccard are
    for). Cost is per-CANDIDATE, never all-pairs: the joins fan the
    bounded prefixes to the candidate rows by key."""
    t = df.select(
        F.col(id_col), F.substring(F.col(text_col), 1, prefix_len).alias("_pfx")
    )
    a = t.select(F.col(id_col).alias("id_a"), F.col("_pfx").alias("_pa"))
    b = t.select(F.col(id_col).alias("id_b"), F.col("_pfx").alias("_pb"))
    mx = F.greatest(F.length("_pa"), F.length("_pb"))
    dist = F.levenshtein("_pa", "_pb").cast("long")
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            dist.alias("edit_dist"),
            # ANSI mode: guard the 0/0 of two empty prefixes (identical);
            # NULL text propagates NULL on BOTH columns — the empty-pair
            # branch is gated on a non-NULL distance because greatest()
            # skips NULLs, so (empty, NULL) would otherwise read mx=0 and
            # score 1.0 (round-5 edge probe)
            F.when(mx > 0, F.round(F.lit(1.0) - dist / mx, 4))
            .when(dist.isNotNull() & (mx == 0), F.lit(1.0))
            .alias("edit_sim"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Pairs with shingle-set Jaccard ≥ threshold: (id_a, id_b, jaccard).

    The shingle frame feeds ~6 sub-plans (sizes, both join sides, the
    frequency cap, candidate filters); without caching, Spark recomputes
    the scan+tokenize+shingle lineage for each — a round-4 plan audit
    counted 22 parquet scans in the LSH-bounded driver query. Locally that
    RECOMPUTE WINS (measured 4.5 s vs 6.2 s at sf0.1 — page-cache parquet
    re-decode beats the columnar-cache round trip, same finding as the
    engine's input projection), so the frame is persisted only under
    remoteStorage, where the corpus should be scanned once.

    Without ``candidates`` this self-joins on shingle (fine when shingles
    are selective / table small); at scale pass minhash_lsh_candidates to
    bound the pair space AND/OR set ``max_shingle_freq``: the self-join
    cost is Σ f(shingle)², so a single stop-shingle appearing in 1% of a
    10⁹-doc corpus alone contributes 10¹⁴ pairs. Dropping shingles with
    document frequency > cap before the join bounds the blow-up; near-dup
    pairs keep plenty of rare shingles, so recall loss is negligible (the
    resulting Jaccard is then over the capped shingle set — exact scores
    for survivors require a verify pass over the pair's full sets).

    ``candidates`` is pushed BELOW the pair aggregation: shingles are first
    restricted to candidate doc ids, and joined pairs are semi-joined to
    candidate pairs BEFORE the groupBy — the expensive Σf² work never
    happens for non-candidates (round-1 verdict: filtering after the
    aggregation bounded nothing).
    """
    cand = None
    base = df
    if candidates is not None:
        cand = candidates.select("id_a", "id_b")
        cand_ids = (
            cand.select(F.col("id_a").alias(id_col))
            .union(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        # restrict the DOCUMENTS to candidate ids BEFORE tokenizing
        # (round 6): the semi-join used to run on the exploded shingle
        # frame, so every non-candidate document was still tokenized and
        # shingled (×3: sizes + both join sides) just to be dropped after
        # the explode. Per-doc sizes and pair intersections only involve
        # candidate docs, so filtering the doc table first is
        # value-identical and skips the expensive projection for the
        # (at 100 TB, overwhelming) non-candidate majority.
        base = df.join(cand_ids, id_col, "left_semi")
    sh, _ = persist_for_replay(doc_shingles(base, text_col, id_col, shingle_n))
    if max_shingle_freq is not None:
        # document frequency is CORPUS-wide (computed on the unfiltered
        # corpus' shingles): a stop-shingle's corpus frequency is what
        # makes it a blow-up hazard, and the cap's semantics must not
        # change when a candidate set narrows the docs entering the join.
        # Without candidates the staged frame already IS the corpus'.
        corpus = sh if cand is None else doc_shingles(df, text_col, id_col, shingle_n)
        freq = corpus.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        keep = freq.where(F.col("_df") <= max_shingle_freq).select("shingle")
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    pairs = a.join(b, "shingle").where(F.col("id_a") < F.col("id_b"))
    if cand is not None:
        pairs = pairs.join(cand, ["id_a", "id_b"], "left_semi")
    inter = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("i"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i")), 4).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_buckets(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", bits: int = 16
) -> DataFrame:
    """Bucket vectors by sign-bit SimHash — near-duplicate candidates share
    a bucket."""
    return df.select(F.col(id_col), simhash_bits(F.col(vec_col), bits).alias("bucket"))


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bits: int = 12,
    max_bucket: int = 1_000,
) -> DataFrame:
    """Cosine near-duplicates verified within SimHash buckets:
    (id_a, id_b, cos, bucket_capped). Bucketing bounds the pair join;
    at 100 TB increase ``bits`` so buckets stay small.

    Hot-bucket bound: a degenerate signature bucket (e.g. many near-zero
    or identical vectors) would make the within-bucket all-pairs join
    quadratic. Buckets larger than ``max_bucket`` switch from the full
    clique to a STAR against the bucket's min-id representative — O(n)
    pairs instead of O(n²) — which preserves the dedup decision (every
    member is scored against the keeper) while dropping only redundant
    member-member edges. Star rows carry ``bucket_capped = true`` so the
    truncation is visible, never silent."""
    b = simhash_buckets(df, vec_col, id_col, bits)
    sizes = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_rep")
    )
    b = b.join(sizes, "bucket")
    # stage double vector + L2 norm ONCE PER ROW before the pair joins:
    # each within-bucket pair then costs a single dot fold. Bit-identical
    # to cosine(va, vb) — same float ops, hoisted below the join.
    vecs = stage_vec(
        df.select(F.col(id_col), F.col(vec_col).alias("_dv")), "_dv", "_dv", "_nn"
    )

    small = b.where(F.col("_n") <= max_bucket)
    a_side = small.join(vecs, id_col).select(
        F.col(id_col).alias("id_a"),
        F.col("bucket"),
        F.col("_dv").alias("va"),
        F.col("_nn").alias("na"),
    )
    b_side = small.join(vecs, id_col).select(
        F.col(id_col).alias("id_b"),
        F.col("bucket"),
        F.col("_dv").alias("vb"),
        F.col("_nn").alias("nb"),
    )
    clique = (
        a_side.join(b_side, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                staged_cos(F.col("va"), F.col("na"), F.col("vb"), F.col("nb")), 4
            ).alias("cos"),
            F.lit(False).alias("bucket_capped"),
        )
    )

    big = b.where(F.col("_n") > max_bucket)
    rep_vec = vecs.select(
        F.col(id_col).alias("_rep"),
        F.col("_dv").alias("va"),
        F.col("_nn").alias("na"),
    )
    star = (
        big.join(vecs, id_col)
        .join(rep_vec, "_rep")
        .where(F.col(id_col) != F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.round(
                staged_cos(F.col("va"), F.col("na"), F.col("_dv"), F.col("_nn")), 4
            ).alias("cos"),
            F.lit(True).alias("bucket_capped"),
        )
    )
    return clique.unionByName(star).where(F.col("cos") >= threshold)


def paragraph_minhash_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    para_tokens: int = 20,
    num_hashes: int = 4,
    shingle_n: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Paragraph-level near-dedup (boilerplate finder): explode documents
    into fixed-token-window paragraphs, compute a ROW-LOCAL MinHash
    signature per paragraph (the zero-shuffle path of
    ``with_minhash_signature``, reused at paragraph granularity), assign
    ``cluster`` = md5 of the full signature, and flag clusters spanning
    more than one document as boilerplate.  Emits one row per paragraph:
    ``(doc_id, para_idx, cluster, is_boilerplate)``.

    Scale shape (the 100 TB contract): signatures are a pure projection on
    the exploded paragraph rows — no shuffle; the only exchange is ONE
    cluster-keyed window to count distinct documents per cluster, bucketed
    exactly like the document-level band join.  A paragraph×paragraph
    all-pairs join never exists.  Skew is bounded by real boilerplate
    itself (a cluster is as big as the boilerplate is common); the window
    aggregates (doc_id set per cluster) stay proportional to cluster
    membership.

    md5 hashing keeps every value DuckDB-reproducible so the whole output
    is oracle-checkable bit-for-bit (swap ``hash_fn='xxhash'`` for the
    production allocation-free path, same as the document-level rowsig)."""
    from pyspark.sql import Window

    from avro_conversions_spark.functions.text import shingles_from_tokens, tokens

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n_paras = F.greatest(
        F.ceil(F.size("_toks") / F.lit(para_tokens)).cast("int"), F.lit(1)
    )
    paras = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_paras - 1),
                lambda i: F.slice("_toks", i * para_tokens + 1, para_tokens),
            )
        ).alias("para_idx", "_ptoks"),
    )
    # stage the shingle array as a real column: _minhash_sig's size()
    # guard keeps it materialized (plan pinned by
    # test_minhash_plan_stages_shingles_once)
    staged = paras.withColumn("_psh", shingles_from_tokens(F.col("_ptoks"), shingle_n))
    sig = _minhash_sig(F.col("_psh"), num_hashes, hash_fn)
    clustered = staged.select(
        F.col(id_col),
        "para_idx",
        F.md5(
            F.concat_ws("_", F.transform(sig, lambda v: v.cast("string")))
        ).alias("cluster"),
    )
    w = Window.partitionBy("cluster")
    return clustered.select(
        F.col(id_col),
        "para_idx",
        "cluster",
        (F.size(F.collect_set(F.col(id_col)).over(w)) > 1).alias("is_boilerplate"),
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list → (node, component)
    where ``component`` is the smallest node id in the component.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014 — public
    algorithm, also the basis of GraphFrames' default CC). Each round is
    two groupBy-aggregations over the current edge set; the edge set
    monotonically contracts toward a star forest in O(log n) rounds even
    on adversarial long chains — unlike plain min-label propagation,
    which needs O(diameter) rounds, and unlike naive pointer-doubling on
    a min-neighbor forest, which converges to LOCAL minima (two cliques
    bridged at a non-minimal node keep distinct labels; pinned by test).

    Scale: only (src, dst) long pairs ever shuffle; per-round state is the
    edge list itself, localCheckpoint()ed every round to truncate lineage
    (without it the plan doubles per iteration and the driver OOMs on
    analysis long before data is a problem). The convergence probe is one
    count + one sum-of-hash aggregate per round — driver-side scalars,
    never collected rows. Nodes absent from ``edges`` are singletons; the
    caller decides whether to union them back (see q_cc_clusters_documents).
    """
    # Materialize the input edge list up front: the caller's lineage is
    # often an expensive pipeline (the LSH candidate join), and one star
    # references its input from several sub-plans — without this the first
    # round re-evaluates that pipeline ~16× (measured 8-9 s on a 5k-doc
    # candidate set that executes once in <1 s).
    e = (
        edges.select(F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )

    def _star(edges_uv: DataFrame, large: bool) -> DataFrame:
        # Neighborhoods over both directions; m(u) = min(Γ(u) ∪ {u}).
        # Deliberately agg+join rather than collect_set: the minimum node
        # of a giant component has Γ of component size, and a per-row
        # neighbor array would concentrate the whole component in one row.
        # The min-agg partial-aggregates map-side; the join back is a
        # plain long-pair shuffle.
        nbrs = edges_uv.union(edges_uv.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        withm = nbrs.join(mins, "u")
        if large:
            # attach strictly-larger neighbors to the minimum
            out = withm.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            # attach not-larger neighbors — and u itself — to the minimum
            # (min over {v ≤ u} ∪ {u} equals least(min(Γ(u)), u): a
            # neighbor > u can never be the minimum)
            out = withm.where(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).union(mins.select(F.col("u"), F.col("m").alias("v")))
        return out.where(F.col("u") != F.col("v")).dropDuplicates()

    def _sig(edges_uv: DataFrame) -> tuple[int, int]:
        row = edges_uv.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: ANSI mode makes a long-sum of 2^63-scale
            # hashes an ARITHMETIC_OVERFLOW error; xor is closed over long
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    prev = None
    for _ in range(max_iterations):
        # checkpoint BETWEEN the stars too: the small star references the
        # large star's output from several sub-plans (both join sides and
        # the min-agg), which would otherwise double the work per round.
        # LAZY checkpoints (round 6): the _sig action materializes both
        # stars' checkpoints in ONE job — the block manager caches each
        # marked RDD's partitions the first time the job computes them, so
        # multi-referenced sub-plans still evaluate once, but the loop pays
        # one driver round trip per round instead of three (the CC loop is
        # latency-bound: each round's data is a contracting long-pair list).
        e = _star(e, large=True).localCheckpoint(eager=False)
        e = _star(e, large=False).localCheckpoint(eager=False)
        sig = _sig(e)
        if sig == prev:
            break
        prev = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    # star forest: every edge is (node, root); roots map to themselves
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .dropDuplicates()
    )


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Full-corpus duplicate-cluster assignment: MinHash-LSH candidate
    pairs → connected components → every document labeled with its
    cluster id (singletons label themselves). The natural step after
    pair-finding: a training-data pipeline dedups by keeping one document
    per CLUSTER, and pairs alone under-merge (A~B, B~C but not A~C)."""
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, band_size, shingle_n
    )
    comp = connected_components(cand)
    return df.select(id_col).join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce("component", F.col(id_col).cast("long")).alias("cluster_id"),
    )


def keep_best_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    score: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-representative selection: for each duplicate cluster keep
    the highest-``score`` document (ties → smallest id). Returns
    (cluster_id, kept_doc_id, n_members) — the keep-list a dedup pipeline
    joins back against the corpus. One window over cluster_id: the shuffle
    key is the cluster, and cluster cardinality is bounded by dup-group
    size, so no skew beyond what the data itself has."""
    from pyspark.sql import Window

    scored = df.select(F.col(id_col), score.alias("_score")).join(clusters, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
        )
        .where(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("kept_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )
