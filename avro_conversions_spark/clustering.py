"""Deterministic distributed k-means over embedding columns.

The curation use-case is SemDeDup-style semantic organization of a
training corpus: partition document embeddings into k cells so that
downstream passes (near-dup pruning, domain balancing, diversity
sampling) run cell-locally instead of corpus-globally. Unlike the IVF
quantizer in similarity.py (pyspark.ml KMeans, k-means||, sampled fit —
the right tool when only the CELLS matter), this is hand-rolled Lloyd's
with a fully specified deterministic contract, so the final assignment
of every vector is reproducible bit-for-bit by the DuckDB oracle:

- init: the k vectors with the smallest ids, in id order (cluster i =
  i-th smallest id) — no RNG anywhere;
- a fixed number of Lloyd iterations (no convergence test — a data-
  dependent stop would make the iteration count itself float-sensitive);
- assignment: argmin of squared L2 distance with ties broken on the
  lower cluster id (struct-ordering argmin — deterministic);
- update: per-(cluster, dimension) mean; a cluster that loses all its
  points keeps its previous centroid.

100 TB shape: centroids are driver-held literals (k×d doubles — KBs),
so ASSIGNMENT is a zero-shuffle map over the corpus with the distance
loop inside whole-stage codegen (F.aggregate/zip_with, no Python). The
UPDATE is posexplode → groupBy(cluster, dim) with map-side partial
aggregation: each task emits at most k×d partials regardless of row
count, so the per-iteration shuffle payload is O(k·d·tasks), never
O(rows). The only collect() is the k×d centroid matrix per iteration —
the same driver-side footprint as pyspark.ml's own KMeans.

Reference parity note: the reference engine (opwvhk/avro-conversions)
has no clustering; this extends the §2.8 training-pipeline surface
(task brief: embedding-based curation at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from avro_conversions_spark.functions.vectors import dist2, to_double
from avro_conversions_spark.session import persist_for_replay


def assign_clusters(
    pts: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "v",
    with_distance: bool = False,
) -> DataFrame:
    """Adds ``cluster``: index of the nearest centroid (squared-L2,
    ties → lower index); optionally ``dist2`` (squared distance to it,
    rounded to 4dp — the SemDeDup redundancy/outlier signal: prune
    near-centroid points for dedup, far ones for outlier removal).
    Centroids travel as a literal array-of-arrays, so the pass is
    shuffle-free."""
    # ONE nested-array literal: k×d per-element F.lit()s cost hundreds of
    # py4j round trips and a CreateArray tree Catalyst must constant-fold
    # on every call — measured ~0.2-0.5 s of per-iteration driver latency
    # at k=8, d=64. Values are bit-identical (same doubles, same type).
    from avro_conversions_spark.functions.vectors import const_double_matrix

    cent = const_double_matrix(centroids)
    best_raw = F.array_min(
        F.transform(
            cent,
            lambda c, i: F.struct(
                dist2(F.col(vec_col), c).alias("d"),
                i.cast("int").alias("cluster"),
            ),
        )
    )
    # CollapseProject inlines a once-referenced staged projection INTO the
    # lambda — re-evaluating the double-cast of the vector once per
    # centroid (k×, the round-4 minhash trap). The size() second
    # reference keeps the staged array materialized.
    best = F.when(F.size(F.col(vec_col)) >= 0, best_raw)
    # failure-as-rows: a NULL or wrong-dimension vector has no defined
    # distance (zip_with pads with NULL) — emit NULL cluster, never an
    # arbitrary argmin winner (round-5 edge probe: a ragged vector was
    # assigned cluster 0 with NULL distance)
    out = pts.withColumn(
        "cluster", F.when(best["d"].isNotNull(), best["cluster"])
    )
    if with_distance:
        out = out.withColumn("dist2", F.round(best["d"], 4))
    return out


def kmeans_fit_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    with_distance: bool = False,
) -> DataFrame:
    """Lloyd's k-means with the deterministic contract above; returns
    (id_col, cluster[, dist2]). ``iters`` centroid updates, then one
    final assignment against the post-update centroids.

    Each iteration re-reads the input (assign + update share one scan, but
    iterations don't): recompute wins on local page-cache profiles
    (round-3/4 finding), so the points are persisted only under
    remoteStorage, where iters+1 corpus scans dominate."""
    pts, persisted = persist_for_replay(
        df.select(F.col(id_col).alias("pid"), to_double(F.col(vec_col)).alias("v"))
    )
    # init from VALID vectors only: the dimension is set by the smallest-id
    # non-null vector, and NULL/other-dimension rows can neither seed nor
    # (downstream) join a cluster — they get NULL assignments instead of
    # crashing the init collect (round-5 adversarial sweep)
    valid = pts.where(F.col("v").isNotNull())
    # fast path: ONE TakeOrdered job fetches the k smallest-id non-null
    # vectors; the dimension is set by the first (smallest-id) row. Only
    # when ragged vectors pollute the probe (rare) does the historical
    # two-job path (dimension probe, then size-filtered init) re-run.
    probe = valid.orderBy("pid").limit(k).collect()
    if not probe:
        raise ValueError("no non-null vectors to initialize from")
    d = len(probe[0]["v"])
    if all(len(r["v"]) == d for r in probe):
        init = probe
    else:
        init = valid.where(F.size("v") == d).orderBy("pid").limit(k).collect()
    if len(init) < k:
        raise ValueError(f"k={k} exceeds the {len(init)} valid input vectors")
    centroids = [[float(x) for x in r["v"]] for r in init]

    for _ in range(iters):
        assigned = assign_clusters(pts, centroids)
        upd = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )  # ≤ k×d rows — driver-held by design, like pyspark.ml KMeans
        new = [c[:] for c in centroids]  # empty cluster keeps its centroid
        for r in upd:
            # NULL cluster = undefinable vector (NULL / ragged) — excluded
            # from centroids, like its NULL assignment row downstream
            if r["cluster"] is None or r["dim"] >= len(new[r["cluster"]]):
                continue
            new[r["cluster"]][r["dim"]] = float(r["m"])
        centroids = new

    cols = [F.col("pid").alias(id_col), F.col("cluster")]
    if with_distance:
        cols.append(F.col("dist2"))
    out = assign_clusters(pts, centroids, with_distance=with_distance).select(*cols)
    if persisted:
        # materialized by the final assignment's consumer; safe to drop
        # the iteration cache now — the returned frame re-derives from it
        # lazily, so unpersist only marks it evictable
        pts.unpersist()
    return out


def semdedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.2,
    max_cluster: int = 512,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023): k-means the
    corpus into cells, then prune ε-similar neighbors CELL-LOCALLY —
    never a corpus-global pair join.

    Declarative pruning contract (the paper's greedy pass re-expressed as
    a well-defined predicate so the DuckDB oracle reproduces it exactly):
    a vector ``b`` is pruned iff some same-cluster anchor ``a`` has
    ``cosine(a, b) >= threshold`` and ``a`` dominates ``b`` — ``a`` is
    FARTHER from the centroid (``dist2`` at 4dp; the paper keeps the
    low-centroid-similarity member of each ε-group), ties broken by the
    lower ``id``. The farthest member of every ε-neighborhood is
    undominated, so each duplicate group keeps at least one survivor.

    100 TB shape: the pair join is keyed on ``cluster``, so its cost is
    Σ mᵢ·min(mᵢ, max_cluster) — cluster count ``k`` is the scale knob
    (SemDeDup uses 50k cells at web scale). ``max_cluster`` bounds the
    anchor side of any degenerate hot cell: members are compared only
    against the cell's ``max_cluster`` farthest-from-centroid rows
    (rank by dist2 desc, id asc — deterministic, and the prune rule's
    dominators are exactly the far rows, so small-dist2 anchors are the
    ones that can be dropped safely); capped cells are flagged via
    ``capped``. NULL/ragged vectors get NULL cluster and are never
    pruned (failure-as-rows).

    ``threshold`` must be set per corpus: the 0.2 default matches the
    synthetic near-orthogonal oracle fixture, where only planted
    near-dups exceed it. On real embedding corpora most pairs exceed
    cosine 0.2, which would collapse each cell to roughly one survivor —
    SemDeDup's production regime is ε ≈ 0.9–0.95 similarity (the paper
    tunes ε per model/corpus).

    Returns (id_col, cluster, dist2, capped, pruned).
    """
    # materialize the (pid, cluster, dist2) assignment ONCE: it is
    # referenced by the pair stage AND the final output join, and each
    # reference would otherwise replay the full zero-shuffle assignment
    # projection (k × d distance folds per row) over a fresh corpus scan —
    # measured 6.4 → 5.5 s at sf0.1. Three narrow columns per row, the
    # guide-§8 lightweight proxy; the full vectors stay in the lazy
    # ``vecs`` frame below.
    assign = (
        kmeans_fit_assign(
            df, vec_col=vec_col, id_col=id_col, k=k, iters=iters, with_distance=True
        )
        .withColumnRenamed(id_col, "pid")
        .localCheckpoint(eager=False)
    )
    from avro_conversions_spark.functions.vectors import dot_double, norm

    # pre-normalize ONCE PER ROW (staged through real columns — an
    # inlined norm would re-evaluate the aggregate per element inside the
    # transform lambda): the pair predicate then costs a single dot
    # product instead of dot + two norms per candidate pair (sf0.1:
    # 44 s -> 10-12 s warm end-to-end). Zero-norm vectors get NULL vn —
    # cosine undefined — so they can neither dominate nor be pruned.
    vecs = (
        df.select(F.col(id_col).alias("pid"), to_double(F.col(vec_col)).alias("v"))
        .withColumn("_nrm", norm(F.col("v")))
        .select(
            "pid",
            F.when(
                F.col("_nrm") > 0,
                F.transform(F.col("v"), lambda x: x / F.col("_nrm")),
            ).alias("vn"),
        )
    )
    m = assign.join(vecs, "pid").where(F.col("cluster").isNotNull())
    from pyspark.sql import Window

    w = Window.partitionBy("cluster").orderBy(
        F.desc("dist2"), F.asc("pid")
    )
    # materialize the ranked frame ONCE (lazy checkpoint): it feeds the
    # anchor slice, the pair join's member side, and the capped-flag
    # projection — three consumers that would each replay the assign⋈vecs
    # join plus both cluster windows. One job computes it; the block
    # manager serves the other references from the cached partitions.
    ranked = (
        m.withColumn("rnk", F.row_number().over(w))
        .withColumn("csize", F.count(F.lit(1)).over(Window.partitionBy("cluster")))
        .localCheckpoint(eager=False)
    )
    anchors = ranked.where(F.col("rnk") <= max_cluster).select(
        F.col("cluster").alias("a_cl"),
        F.col("pid").alias("a_id"),
        F.col("dist2").alias("a_d2"),
        F.col("vn").alias("a_vn"),
    )
    # the dominance ORDER predicate ((a_d2, a_id) after (dist2, pid)) goes
    # INTO the join condition: it is a cheap scalar comparison, and pushing
    # it below the pair output halves the candidate pairs before the
    # 64-element interpreted dot fold — the expensive half of the predicate
    # — ever evaluates (higher-order functions do not whole-stage-codegen,
    # so each dot is an interpreted per-pair fold). Surviving (pair, dot)
    # decisions are identical: the two predicates were conjoined anyway.
    #
    # SALT the cluster-keyed pair join (guide §2.5): with few cells the
    # exchange hashes to ≤ k reducers, so the per-pair dot work of a hot
    # cell serializes on one core (locally: k=8 cells on 32 cores leaves
    # 3/4 idle; at production k ≈ 50k the salt resolves to 1 and the plan
    # is unchanged). Member rows key on (cluster, rnk % S); the anchor
    # side replicates S ways — anchors are the capped, narrow side. Pure
    # partitioning change: the pair set and every dot are identical.
    n_salt = max(
        1, df.sparkSession.sparkContext.defaultParallelism // max(1, k)
    )
    member = ranked.withColumn("_salt", F.pmod(F.col("rnk"), F.lit(n_salt)))
    anch_salted = anchors.withColumn(
        "_asalt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    pairs = member.join(
        anch_salted,
        (F.col("cluster") == F.col("a_cl"))
        & (F.col("_salt") == F.col("_asalt"))
        & (F.col("pid") != F.col("a_id"))
        & (
            (F.col("a_d2") > F.col("dist2"))
            | ((F.col("a_d2") == F.col("dist2")) & (F.col("a_id") < F.col("pid")))
        ),
    )
    dominated = F.round(dot_double(F.col("a_vn"), F.col("vn")), 6) >= F.lit(threshold)
    pruned_ids = (
        pairs.where(dominated).select(F.col("pid")).distinct().withColumn(
            "pruned", F.lit(True)
        )
    )
    flags = ranked.select(
        "pid", (F.col("csize") > max_cluster).alias("capped")
    )
    return (
        assign.join(flags, "pid", "left")
        .join(pruned_ids, "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            "cluster",
            "dist2",
            F.coalesce("capped", F.lit(False)).alias("capped"),
            F.coalesce("pruned", F.lit(False)).alias("pruned"),
        )
    )
