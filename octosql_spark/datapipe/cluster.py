"""Near-duplicate cluster resolution: distributed connected
components over a dup-pair edge list, and cluster-representative
dedup built on top of the pair generators (dedup.py).

Pair operators (MinHash-LSH, SimHash, n-gram Jaccard) emit edges
``(id_a, id_b)``; turning "pairs" into "keep one doc per duplicate
GROUP" requires the transitive closure — a doc chain a~b~c must
collapse to ONE representative even when (a, c) itself was never
emitted.

Scale design (the 100 TB story): min-label propagation, the same
algorithm GraphX's ``connectedComponents`` runs as a Pregel loop.
Each iteration is one shuffle join (labels × edges, keyed on node id)
plus a map-side-combined min-aggregation; the iteration count is the
cluster *diameter*, which for near-dup graphs is tiny (dup clusters
are dense — mostly 2-10 docs). Lineage is cut per iteration with
``localCheckpoint`` so the plan does not grow with the loop (swap for
``checkpoint`` + a checkpoint dir on a real cluster). The driver only
ever sees one scalar per iteration (the changed-label count used for
convergence) — no row data is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """(node, component) for every node in ``edges``; ``component`` is
    the minimum node id reachable from the node. Min-label
    propagation: labels start as each node's own id and every
    iteration takes the min over the 1-hop neighborhood until a fixed
    point."""
    sym = (edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
           .union(edges.select(F.col(id_b).alias("src"),
                               F.col(id_a).alias("dst")))
           .distinct()
           .persist())
    labels = (sym.select(F.col("src").alias("node")).distinct()
              .withColumn("component", F.col("node")))
    # lazy for the same reason as the loop checkpoint: iteration 1's
    # convergence count materializes it together with `sym`'s persist
    labels = labels.localCheckpoint(eager=False)
    for _ in range(max_iter):
        nbr = (sym.join(labels.withColumnRenamed("node", "dst")
                        .withColumnRenamed("component", "nbr_component"),
                        "dst")
               .groupBy("src")
               .agg(F.min("nbr_component").alias("nbr_component"))
               .withColumnRenamed("src", "node"))
        # carry the previous label through the checkpoint so the
        # convergence test is a filter+count on the just-materialized
        # frame — the old shape re-joined new_labels against labels
        # (one extra shuffle of both label tables per iteration) to
        # compute the same number (r11, guide §2.4). Storage trade
        # (ADVICE r11): each iteration's localCheckpoint holds one
        # extra long column (~50% more label-table bytes) — cheap
        # next to the shuffle it replaces, but it is executor memory;
        # swap localCheckpoint for checkpoint on memory-tight
        # clusters.
        new_labels = (labels.join(nbr, "node", "left")
                      .select("node",
                              F.col("component").alias("_prev"),
                              F.least(F.col("component"),
                                      F.coalesce("nbr_component",
                                                 F.col("component")))
                              .alias("component")))
        # LAZY checkpoint: the convergence count below is the action
        # that materializes it (count computes every partition, so the
        # checkpoint is complete) — one job per iteration instead of
        # the eager checkpoint's materialize-then-count two (r12,
        # guide §5 driver-side job overhead; this loop sits inside
        # dedup_clusters, cluster/semantic ingest, streaming labels
        # and graph_metrics, so each saved job is saved per iteration
        # per caller)
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = (new_labels
                   .filter(F.col("component") != F.col("_prev"))
                   .count())
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def dedup_clusters(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Cluster assignment for every document: docs in a dup cluster
    get the cluster's min doc id as ``cluster_id``; singletons (no dup
    edge) are their own cluster. ``df.filter(doc_id == cluster_id)``
    is then the deduplicated corpus (one representative per cluster).
    """
    comp = connected_components(pairs, max_iter=25)
    return (df.select(id_col)
            .join(comp.withColumnRenamed("node", id_col), id_col, "left")
            .select(id_col,
                    F.coalesce("component", F.col(id_col))
                    .alias("cluster_id")))


def cluster_ingest_components(labels: DataFrame, new_edges: DataFrame,
                              node_col: str = "node",
                              comp_col: str = "component",
                              id_a: str = "id_a", id_b: str = "id_b",
                              max_iter: int = 25) -> DataFrame:
    """Incremental connected-components maintenance — the missing twin
    of ``minhash_ingest_near_dups`` (r9 verdict #7): given the
    PERSISTED label table of the corpus so far (``node, component``
    where component is the min reachable node id, i.e. exactly what
    ``connected_components`` emits) and the near-dup edges of a NEW
    ingest increment, return the updated full label table WITHOUT
    recomputing components from scratch.

    Edges can only MERGE components, never split them, and each
    existing label is by construction the min id of its member set —
    so the update reduces to connected components on the QUOTIENT
    graph over the increment: map each new edge's endpoints to their
    current labels (unseen nodes label themselves), propagate min
    labels across those label-level edges only, then remap. The min
    over a merged group of labels equals the min over all member
    nodes, so the result is identical to a full recompute on
    (old graph + new edges) — pinned by the gate oracle and by a
    differential test against ``connected_components``.

    Scale shape: label propagation runs on the DELTA quotient graph
    (≤ 2·|increment| nodes — label-level, not member-level), and the
    remap is ONE map-side broadcast join over the big label table.
    Nothing iterates over the full graph; at 100 TB the per-increment
    cost is proportional to the increment and the handful of touched
    components, exactly like the exact-dedup and LSH ingest paths."""
    ends = (new_edges.select(F.col(id_a).alias(node_col))
            .union(new_edges.select(F.col(id_b).alias(node_col)))
            .distinct())
    # current labels of the increment's endpoints: broadcast the
    # (small) endpoint set INTO the big label table — one map-only
    # pass, no shuffle of labels; the result is again increment-sized
    known = labels.join(F.broadcast(ends), node_col).select(
        node_col, F.col(comp_col).alias("_lab"))
    ends_lab = (ends.join(known, node_col, "left")
                .select(node_col,
                        F.coalesce("_lab", F.col(node_col)).alias("_lab")))
    la = ends_lab.select(F.col(node_col).alias(id_a),
                         F.col("_lab").alias("_la"))
    lb = ends_lab.select(F.col(node_col).alias(id_b),
                         F.col("_lab").alias("_lb"))
    quotient = (new_edges.join(la, id_a).join(lb, id_b)
                .filter(F.col("_la") != F.col("_lb"))
                .select(F.col("_la").alias(id_a),
                        F.col("_lb").alias(id_b))
                .distinct())
    merged = connected_components(quotient, id_a, id_b, max_iter)
    # (old label -> new smaller label) for labels that actually move;
    # bounded by the components the increment touches -> broadcast
    mapping = (merged.filter(F.col("node") != F.col("component"))
               .select(F.col("node").alias("_old"),
                       F.col("component").alias("_new")))
    novel = ends.join(known.select(node_col), node_col, "left_anti")
    base = labels.select(node_col, comp_col).unionByName(
        novel.select(node_col, F.col(node_col).alias(comp_col)))
    return (base.join(F.broadcast(mapping),
                      base[comp_col] == F.col("_old"), "left")
            .select(node_col,
                    F.coalesce("_new", F.col(comp_col)).alias(comp_col)))


def cluster_representatives(df: DataFrame, pairs: DataFrame,
                            id_col: str = "doc_id",
                            score_col: str = "score") -> DataFrame:
    """Quality-aware cluster collapse: one representative per dup
    cluster — the member with the highest ``score_col`` (ties broken
    by min id), instead of ``dedup_clusters``'s blind min-id policy.
    The standard refinement when near-dup clusters mix a clean page
    with boilerplate-laden copies: keep the best-quality duplicate.

    Returns (id_col, cluster_id, representative, keep); filtering on
    ``keep`` yields the deduplicated corpus.

    Scale shape: ``connected_components`` label propagation plus ONE
    additional window shuffle keyed by cluster id (cluster populations
    are small by construction — dup clusters, not arbitrary groups).
    """
    from pyspark.sql.window import Window
    clustered = dedup_clusters(df, pairs, id_col)
    scored = clustered.join(df.select(id_col, score_col), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    return (scored
            .withColumn("representative", F.first(id_col).over(w))
            .select(id_col, "cluster_id", "representative",
                    (F.col(id_col) == F.col("representative"))
                    .alias("keep")))


def _cell_candidate_keys(x: DataFrame, max_cell_population: int,
                         lsh_tables: int, lsh_planes: int,
                         seed: int) -> DataFrame:
    """Candidate-generation key assignment for ``semantic_dedup`` cells:
    each row of ``x`` (columns ``_id, _nv, cell``) is emitted once per
    candidate bucket as ``(_id, _nv, cell, table, bucket)``. Rows in
    cells at or under ``max_cell_population`` get the single sentinel
    bucket (-1, 0) — paper-exact within-cell all-pairs. Rows in skewed
    cells fan out to ``lsh_tables`` hyperplane-LSH buckets so no join
    key's population exceeds the cell's LSH bucket size. Factored out
    so tests can assert the per-key population bound directly."""
    from octosql_spark.datapipe.similarity import _hyperplane_signature
    counts = x.groupBy("cell").agg(F.count(F.lit(True)).alias("_cn"))
    y = x.join(F.broadcast(counts), "cell")
    if lsh_planes <= 0:
        return y.select("_id", "_nv", "cell",
                        F.lit(-1).alias("table"),
                        F.lit(0).cast("long").alias("bucket"))
    first = x.select("_nv").first()
    if first is None:  # empty input: no rows to bucket (the exact
        # branch shape keeps the downstream schema identical)
        return y.select("_id", "_nv", "cell",
                        F.lit(-1).alias("table"),
                        F.lit(0).cast("long").alias("bucket"))
    dim = len(first[0])
    exact = F.array(F.struct(F.lit(-1).alias("table"),
                             F.lit(0).cast("long").alias("bucket")))
    lsh = F.array(*[
        F.struct(F.lit(t).alias("table"),
                 _hyperplane_signature(F.col("_nv"), dim, lsh_planes,
                                       seed + 7000 + 1000 * t)
                 .alias("bucket"))
        for t in range(lsh_tables)])
    buckets = F.when(F.col("_cn") <= F.lit(max_cell_population), exact) \
               .otherwise(lsh)
    return (y.withColumn("_b", F.explode(buckets))
            .select("_id", "_nv", "cell", "_b.table", "_b.bucket"))


def semantic_dedup(embeddings: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", threshold: float = 0.9,
                   method: str = "cells", n_cells: int = 16,
                   seed: int = 42, target_cell_size: int = 1024,
                   max_cell_population: int | None = None,
                   lsh_tables: int = 8, lsh_planes: int = 4,
                   train_cap: int = 100_000,
                   flat_k_max: int = 4096) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): collapse groups of
    semantically near-identical examples (cosine >= ``threshold``) to
    one representative each. Returns every input id with its
    ``cluster_id`` and a ``keep`` flag; ``filter(keep)`` is the
    deduplicated corpus.

    ``method="exact"`` — all-pairs cosine + transitive closure;
    deterministic min-id representative. O(n²): verification scale
    only (it is the policy an oracle can replay).

    ``method="cells"`` — the paper's actual recipe and the 100 TB
    shape: k-means cells partition the corpus (train on MLlib, one
    coarse iterative step), near-dup pairs are found ONLY within a
    cell (the single shuffle is the cell equi-join; cross-cell pairs
    are sacrificed exactly as in the paper), and each duplicate
    group keeps the member FARTHEST from the cell centroid (the
    paper's low-centroid-similarity rule — outliers carry the most
    information), tiebroken by min id.

    Scale contract (within-cell pairing is quadratic per cell, so cell
    population MUST stay bounded as the corpus grows — the paper runs
    k≈100k cells on LAION):

    - ``n_cells`` is a MINIMUM; the effective k auto-scales to
      ``ceil(n / target_cell_size)`` so expected cell population stays
      ~``target_cell_size`` at any corpus size. Within-cell pairing
      emits ~``n x target_cell_size / 2`` candidates — linear in n,
      but the cell size is the quadratic CONSTANT, which is why the
      default (1024) matches the paper's ~1k cells rather than a
      shuffle-partition-sized block.
    - Skewed cells are additionally LSH-bucketed: any cell whose
      population exceeds ``max_cell_population`` (default
      ``4 * target_cell_size``) generates candidates only within
      multi-table hyperplane-LSH buckets *inside* the cell
      (``lsh_tables`` tables × ``lsh_planes`` planes — the same
      signature machinery as ``embedding_near_dup_pairs``), trading
      the standard LSH recall bound for a hard cap on pair blowup.
      Small cells keep the paper-exact all-pairs scan. Set
      ``lsh_planes=0`` to disable the skew guard (paper-faithful mode).
    - KMeans trains on a BOUNDED sample (``train_cap`` rows, the
      pq_topk codebook pattern — quantizer quality saturates long
      before the corpus is exhausted), never the full corpus, and
      cell ASSIGNMENT is ``model.transform`` (MLlib broadcasts the
      center matrix as data) — the centers never enter the plan as
      literals, so plan size is O(1) in k.
    - When the auto-scaled k exceeds ``flat_k_max`` (k≈n/4096 is
      ~250k at 1B rows — impractical for a single MLlib fit), the
      assignment goes two-level coarse→fine: a √k-means over the
      vectors picks a coarse cell, a second √k-means over the
      RESIDUAL (vector − coarse center, the IVF-PQ trick) refines it,
      and the cell id is the (coarse, fine) pair — k₁·k₂ ≥ k cells
      from two bounded fits of ~√k centers each.
    The candidate shuffle is keyed on (cell, table, bucket); see
    ``_cell_candidate_keys`` for the testable key assignment.
    """
    from octosql_spark.datapipe.dedup import embedding_near_dup_pairs
    from octosql_spark.datapipe.similarity import _dot

    ids = embeddings.select(F.col(id_col))
    if method == "exact":
        pairs = embedding_near_dup_pairs(
            embeddings, id_col, vec_col, threshold, method="exact")
        cl = dedup_clusters(ids, pairs, id_col)
        return cl.select(id_col, "cluster_id",
                         (F.col(id_col) == F.col("cluster_id")).alias("keep"))
    if method != "cells":
        raise ValueError(method)

    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sess = embeddings.sparkSession
    e = embeddings.select(F.col(id_col).alias("_id"),
                          F.col(vec_col).cast("array<double>").alias("_v"))
    norm = F.sqrt(_dot(F.col("_v"), F.col("_v")))
    e = e.withColumn("_nv", F.transform("_v", lambda x: x / norm))
    # auto-scale k so expected cell population stays ~target_cell_size
    # (n_cells is a floor, not the answer — fixed k at growing n is the
    # quadratic blowup the paper avoids with k≈100k). The count is one
    # metadata-cheap scan; the FIT below never touches the full corpus.
    n = e.count()
    if n == 0:
        # empty corpus: KMeans.fit rejects an empty dataset and the
        # dimension probe has no row to read (r9 self-review)
        return embeddings.select(
            F.col(id_col), F.col(id_col).alias("cluster_id"),
            F.lit(True).alias("keep"))
    k = max(2, min(max(n_cells, -(-n // max(1, target_cell_size))), n))
    feat = e.select("_id", "_nv", array_to_vector("_nv").alias("features"))

    def _fit(df, kk, s):
        # bounded training sample: O(cap) rows pulled into the fit
        # regardless of corpus size (cap >= 4*kk keeps every center
        # populated); frac >= 1 degenerates to the full (small) input.
        # The sample is PERSISTED around the fit: MLlib KMeans does
        # not cache its input, so every k-means|| init round and
        # Lloyd iteration would otherwise re-run the scan + normalize
        # + to-vector pipeline (~25 recomputations; measured 32 s vs
        # 3 s on a 20k-row fit).
        cap = max(train_cap, 4 * kk)
        frac = min(1.0, 1.2 * float(cap) / max(1, n))
        # few fat partitions: a k-means fit is ~30 tiny jobs (k-means||
        # init rounds + Lloyd iterations) and per-task scheduling
        # dominates on a <=cap-row frame spread over every core
        parts = max(2, int(cap) // 25_000)
        tr = (df if frac >= 1.0
              else df.sample(False, frac, s)) \
            .select("features").coalesce(parts).persist()
        try:
            return KMeans(k=kk, seed=s, featuresCol="features").fit(tr)
        finally:
            tr.unpersist()

    def _centers_df(model, cell_name, ctr_name):
        rows = [(i, [float(v) for v in c])
                for i, c in enumerate(model.clusterCenters())]
        return sess.createDataFrame(
            rows, f"{cell_name} int, {ctr_name} array<double>")

    if k <= flat_k_max:
        model = _fit(feat, k, seed)
        # model.transform broadcasts the center matrix as DATA inside
        # MLlib; the plan carries no centroid literals
        assigned = (model.transform(feat)
                    .withColumn("cell", F.col("prediction").cast("int")))
        ctrs = _centers_df(model, "_ck", "_ctr")  # k rows, joined as data
        x = (assigned.join(F.broadcast(ctrs), F.col("cell") == F.col("_ck"))
             .select("_id", "_nv", "cell",
                     _dot(F.col("_nv"), F.col("_ctr")).alias("ccos"))
             .persist())
    else:
        # two-level coarse→fine: two ~√k fits, k1*k2 >= k cells
        k1 = max(2, int(math.ceil(math.sqrt(float(k)))))
        k2 = max(2, -(-k // k1))
        m1 = _fit(feat, k1, seed)
        coarse = (m1.transform(feat)
                  .withColumn("_c1", F.col("prediction").cast("int"))
                  .drop("prediction", "features"))
        c1 = _centers_df(m1, "_ck1", "_ctr1")  # k1 rows
        resid = (coarse.join(F.broadcast(c1), F.col("_c1") == F.col("_ck1"))
                 .withColumn("_rv", F.zip_with("_nv", "_ctr1",
                                               lambda a, b: a - b)))
        rfeat = resid.select("_id", "_nv", "_c1", "_ctr1",
                             array_to_vector("_rv").alias("features"))
        m2 = _fit(rfeat, k2, seed + 1)
        fine = (m2.transform(rfeat)
                .withColumn("_c2", F.col("prediction").cast("int")))
        c2 = _centers_df(m2, "_ck2", "_ctr2")  # k2 rows
        # effective center of the (coarse, fine) cell is c1 + c2
        x = (fine.join(F.broadcast(c2), F.col("_c2") == F.col("_ck2"))
             .select("_id", "_nv",
                     (F.col("_c1") * k2 + F.col("_c2")).alias("cell"),
                     _dot(F.col("_nv"),
                          F.zip_with("_ctr1", "_ctr2", lambda a, b: a + b))
                     .alias("ccos"))
             .persist())
    keyed = _cell_candidate_keys(
        x, max_cell_population=(max_cell_population
                                if max_cell_population is not None
                                else 4 * target_cell_size),
        lsh_tables=lsh_tables, lsh_planes=lsh_planes, seed=seed)
    # candidate generation and verification are SPLIT so the heavy
    # stages stay skinny: the self-join + dropDuplicates handle
    # (id, id) longs only — carrying both embedding vectors through
    # the pair shuffle multiplied its bytes by the vector width
    # (measured 444 s → 36 s on a 25M-candidate run). Vectors re-join
    # AFTER dedup from the persisted x, whose ~corpus-row frame is
    # far under the broadcast gate per cell population bound.
    a = keyed.select(F.col("_id").alias("id_a"), "cell", "table", "bucket")
    b = keyed.select(F.col("_id").alias("id_b"), "cell", "table", "bucket")
    cand = (a.join(b, ["cell", "table", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"]))
    va = x.select(F.col("_id").alias("id_a"), F.col("_nv").alias("_va"))
    vb = x.select(F.col("_id").alias("id_b"), F.col("_nv").alias("_vb"))
    pairs = (cand.join(va, "id_a").join(vb, "id_b")
             .filter(_dot(F.col("_va"), F.col("_vb")) >= threshold)
             .select("id_a", "id_b"))
    comp = connected_components(pairs, max_iter=25)
    labeled = (x.join(comp.withColumnRenamed("node", "_id"), "_id", "left")
               .select(F.col("_id"), "ccos",
                       F.coalesce("component", F.col("_id"))
                       .alias("cluster_id")))
    # representative = farthest from the centroid (min ccos), min id
    from pyspark.sql.window import Window
    rk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(F.col("ccos").asc(),
                                                 F.col("_id").asc()))
    out = (labeled.withColumn("_rk", rk)
           .select(F.col("_id").alias(id_col), "cluster_id",
                   (F.col("_rk") == 1).alias("keep")))
    x.unpersist()
    return out


def build_semantic_index(embeddings: DataFrame, path: str,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.9, n_cells: int = 16,
                         seed: int = 42,
                         train_cap: int = 100_000) -> None:
    """Write the STORED maintenance form of ``semantic_dedup`` — the
    base ``semantic_ingest`` increments against (r10 verdict #4: the
    embedding side recomputed cells from scratch). Layout under
    ``path``:

    - ``cells``: (cell, centroid) — the k-means quantizer, trained
      ONCE on a bounded sample and frozen; every later increment
      assigns against these stored centers, which is what makes
      incremental results comparable to the base at all (SemDeDup's
      cells are a partition of SPACE; re-training per increment would
      silently re-shuffle cluster membership);
    - ``vectors``: (vec_id, nv normalized, ccos, cell) partitioned by
      ``cell`` — increments probe only their own cells' directories;
    - ``labels``: (vec_id, cluster_id, ccos) — the current component
      labels (min member id), from within-cell pairing at
      ``threshold`` exactly as ``semantic_dedup(method="cells")``
      pairs them.

    ``read_semantic_labels`` resolves keep flags (min-ccos
    representative per cluster, the paper's rule)."""
    import os

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from octosql_spark.datapipe.similarity import _dot

    sess = embeddings.sparkSession
    e = embeddings.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).cast("array<double>")
                          .alias("_v"))
    norm = F.sqrt(_dot(F.col("_v"), F.col("_v")))
    e = e.withColumn("nv", F.transform("_v", lambda x: x / norm))
    n = e.count()
    frac = min(1.0, 1.2 * float(train_cap) / max(1, n))
    feat = e.select("vec_id", "nv", array_to_vector("nv")
                    .alias("features"))
    tr = ((feat if frac >= 1.0 else feat.sample(False, frac, seed))
          .select("features")
          .coalesce(max(2, int(train_cap) // 25_000)).persist())
    try:
        model = KMeans(k=n_cells, seed=seed,
                       featuresCol="features").fit(tr)
    finally:
        tr.unpersist()
    ctrs = sess.createDataFrame(
        [(i, [float(x) for x in c])
         for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>")
    x = (model.transform(feat)
         .withColumn("cell", F.col("prediction").cast("int"))
         .join(F.broadcast(ctrs), "cell")
         .select("vec_id", "nv", "cell",
                 _dot(F.col("nv"), F.col("centroid")).alias("ccos"))
         .persist())
    a = x.select(F.col("vec_id").alias("id_a"), "cell",
                 F.col("nv").alias("_va"))
    b = x.select(F.col("vec_id").alias("id_b"), "cell",
                 F.col("nv").alias("_vb"))
    pairs = (a.join(b, "cell")
             .filter(F.col("id_a") < F.col("id_b"))
             .filter(_dot(F.col("_va"), F.col("_vb")) >= threshold)
             .select("id_a", "id_b"))
    comp = connected_components(pairs, max_iter=25)
    labels = (x.join(comp.withColumnRenamed("node", "vec_id"),
                     "vec_id", "left")
              .select("vec_id",
                      F.coalesce("component", F.col("vec_id"))
                      .alias("cluster_id"), "ccos"))
    x.select("vec_id", "nv", "ccos", "cell").write.mode("overwrite") \
        .partitionBy("cell").parquet(os.path.join(path, "vectors"))
    labels.write.mode("overwrite").parquet(os.path.join(path, "labels"))
    ctrs.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "cells"))
    x.unpersist()


def read_semantic_labels(spark, path: str) -> DataFrame:
    """(vec_id, cluster_id, keep) resolved from a semantic index:
    keep = the cluster's min-ccos member (ties: min id) — SemDeDup's
    farthest-from-centroid representative rule."""
    import os

    from pyspark.sql.window import Window

    labels = spark.read.parquet(os.path.join(path, "labels"))
    rk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(F.col("ccos").asc(),
                                                 F.col("vec_id").asc()))
    return (labels.withColumn("_rk", rk)
            .select("vec_id", "cluster_id",
                    (F.col("_rk") == 1).alias("keep")))


def semantic_ingest(spark, path: str, batch: DataFrame,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    threshold: float = 0.9) -> DataFrame:
    """Incremental SemDeDup maintenance (r10 verdict #4): assign a
    NEW vector batch to the STORED k-means cells of a
    ``build_semantic_index`` index, probe for near-dups only against
    the stored members of the probed cells (one partition-pruned
    read) plus within the batch itself, merge labels through the same
    quotient-graph delta path as ``cluster_ingest_components``, and
    persist the updated tables. Returns the updated full
    (vec_id, cluster_id, keep) — equal to ``read_semantic_labels``
    after the write.

    Scale shape: per increment the work is O(batch) assignment (the
    bounded cell-center list enters the plan as a literal, like
    ``ivf_index_topk``), one equi-join of the batch against the
    probed cells' stored vectors (partition filter: only those cell
    directories are scanned), label propagation on the
    increment-bounded quotient graph, and a keep-flag window over the
    TOUCHED clusters only — never a full-corpus pairing or a
    re-train. Contract (pinned by the gate entry and a differential
    test): the result equals ``semantic_dedup(method="cells")``
    recomputed from scratch on the full corpus whenever the frozen
    quantizer and a fresh fit partition the vectors into the same
    cells (well-separated corpora; the planted fixture pins it) —
    re-training on the grown corpus can legitimately move cell
    BOUNDARIES, which is exactly why the production index freezes
    them."""
    import os

    from pyspark.sql.window import Window

    from octosql_spark.datapipe.similarity import (_dot,
                                                   _nearest_centroid_ids)

    centers = [list(map(float, r.centroid)) for r in
               spark.read.parquet(os.path.join(path, "cells"))
               .orderBy("cell").collect()]  # bounded: n_cells rows
    prior = spark.read.parquet(os.path.join(path, "labels"))
    b = batch.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).cast("array<double>").alias("_v"))
    # replay idempotence: already-indexed ids are settled
    b = b.join(prior.select("vec_id"), "vec_id", "left_anti")
    norm = F.sqrt(_dot(F.col("_v"), F.col("_v")))
    b = b.withColumn("nv", F.transform("_v", lambda x: x / norm))
    b = b.withColumn(
        "cell", _nearest_centroid_ids(F.col("nv"), centers, 1)[0])
    ctr = F.array(*[F.array(*[F.lit(float(v)) for v in c])
                    for c in centers])
    b = (b.withColumn("ccos",
                      _dot(F.col("nv"),
                           F.element_at(ctr, F.col("cell") + 1)))
         .select("vec_id", "nv", "ccos", "cell").persist())
    cells = sorted({r.cell for r in
                    b.select("cell").distinct().collect()})
    stored = (spark.read.parquet(os.path.join(path, "vectors"))
              .filter(F.col("cell").isin(cells)))
    bb = b.select(F.col("vec_id").alias("id_a"), "cell",
                  F.col("nv").alias("_va"))
    sb = stored.select(F.col("vec_id").alias("id_b"), "cell",
                       F.col("nv").alias("_vb"))
    cross = (bb.join(sb, "cell")
             .filter(_dot(F.col("_va"), F.col("_vb")) >= threshold)
             .select("id_a", "id_b"))
    b2 = b.select(F.col("vec_id").alias("id_b"), "cell",
                  F.col("nv").alias("_vb"))
    within = (bb.join(b2, "cell")
              .filter(F.col("id_a") < F.col("id_b"))
              .filter(_dot(F.col("_va"), F.col("_vb")) >= threshold)
              .select("id_a", "id_b"))
    edges = cross.unionByName(within)
    # novel batch nodes enter the label table, then the quotient-graph
    # delta merge relabels exactly the touched components
    base = prior.select("vec_id", "cluster_id").unionByName(
        b.select("vec_id", F.col("vec_id").alias("cluster_id")))
    merged = cluster_ingest_components(
        base, edges, node_col="vec_id", comp_col="cluster_id")
    ccos_all = (prior.select("vec_id", "ccos")
                .unionByName(b.select("vec_id", "ccos")))
    labels = merged.join(ccos_all, "vec_id")
    # persist the grown index: batch vectors append into their cell
    # partitions; the label table is rewritten (it is the small table
    # — one slim row per vector; the heavy vectors table only appends)
    b.write.mode("append").partitionBy("cell").parquet(
        os.path.join(path, "vectors"))
    out = os.path.join(path, "labels")
    tmp = os.path.join(path, ".labels_tmp")
    # labels reads the CURRENT label parquet (prior), so it cannot
    # overwrite that directory in place; stage to a sibling and swap
    # with a filesystem rename — ONE write job instead of the old
    # write-tmp → read-tmp → rewrite-out chain (a second full write +
    # read of the label table per increment, r12 guide §5). Crash
    # safety is unchanged: the old overwrite(out) also deleted out
    # before rewriting, so in both schemes a crash inside the swap
    # window leaves out missing and tmp complete.
    labels.write.mode("overwrite").parquet(tmp)
    jvm = spark._jvm
    tp = jvm.org.apache.hadoop.fs.Path(tmp)
    op = jvm.org.apache.hadoop.fs.Path(out)
    fs = tp.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(op, True)
    if not fs.rename(tp, op):
        raise RuntimeError(f"rename {tmp} -> {out} failed")
    b.unpersist()
    return read_semantic_labels(spark, path)


def graph_metrics(edges: DataFrame, a_col: str = "id_a",
                  b_col: str = "id_b") -> DataFrame:
    """Structure metrics of the near-dup graph in one row:
    (n_nodes, n_edges, n_triangles, transitivity) — the health check
    that tells a dedup pipeline whether its pair set is sparse
    matches or dense clique blow-up (transitivity = 3*triangles /
    wedges; near 1 means the pairs are really cliques and
    cluster-level dedup will collapse them).

    Triangle counting uses degree orientation — every edge points
    from its lower-(degree, id) endpoint to the higher — so each
    wedge is enumerated at exactly one apex and the join fan-out per
    node is bounded by sqrt(2*|E|) regardless of skew (the hub node
    that would explode a naive wedge join has maximal degree, so it
    SOURCES almost nothing). Three hash joins on node ids; no
    all-pairs anywhere. Wedge totals come from the degree table
    alone."""
    e = (edges.select(F.least(F.col(a_col), F.col(b_col)).alias("a"),
                      F.greatest(F.col(a_col), F.col(b_col)).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct().persist())
    deg = (e.select(F.col("a").alias("n"))
           .unionAll(e.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("deg")))
    # orient: src = endpoint with the smaller (deg, id) tuple
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("_db"))
    ed = e.join(da, "a").join(db, "b")
    fwd = (F.col("_da") < F.col("_db")) | \
          ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"))
    o1 = oriented.select(F.col("src"), F.col("dst").alias("v"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("w"))
    wedge = o1.join(o2, "src").filter(F.col("v") < F.col("w"))
    closed = wedge.join(
        e, (F.least(F.col("v"), F.col("w")) == F.col("a"))
        & (F.greatest(F.col("v"), F.col("w")) == F.col("b")))
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = (deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("long")
        .alias("_wedges")))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    out = (stats.crossJoin(n_edges).crossJoin(tri)
           .select("n_nodes", "n_edges", "n_triangles",
                   F.round(3.0 * F.col("n_triangles")
                           / F.when(F.col("_wedges") > 0, F.col("_wedges")),
                           6).alias("transitivity")))
    return out
