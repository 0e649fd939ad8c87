"""Corpus clustering operators — distributed Lloyd's k-means over the
embedding table and k-NN label voting.

Why these exist in a training-data engine: clustering is the backbone of
corpus curation at scale — topic-balanced sampling, SemDeDup's cluster
stage, domain discovery, and cluster-purity audits of weak labels all
start from "assign every vector to a centroid, profile the clusters".
k-NN label voting is the standard weak-label audit: if a vector's
nearest neighbours disagree with its label, the label (or the embedding)
is suspect.

Reference parity: the reference engine (sevenfang/etl-Lealone) has no
vector clustering; this extends its analytics surface the way
operators/similarity.py extends search (see SURVEY.md §2 extensions).
Semantics are the public classics: Lloyd's algorithm (Lloyd 1982,
IEEE Trans. Inf. Theory), cluster-based corpus curation a la SemDeDup
(Abbas et al. 2023), and k-NN label auditing in the confident-learning
tradition (Northcutt et al. 2021).

Scale shapes (the 100 TB design):

- **Assignment is map-only.** Centroids are a driver-side list of k
  integer vectors (k ≤ 64 enforced — same bounded-collect contract as
  pq_train's codebooks), inlined as literals into ONE projection that
  scores all k distances per row and takes the lexicographic argmin.
  No join, no shuffle, no broadcast table: the corpus streams through
  whole-stage codegen once per iteration.
- **The update step is one vocabulary-sized aggregation.** posexplode
  to (cid, pos, component) then groupBy(cid, pos) — map-side partial
  sums reduce the shuffle to k×dim rows regardless of corpus size.
  The k×dim means are collected driver-side (bounded) to seed the next
  iteration's literal centroids.
- **Determinism.** Vectors are integer-quantized (similarity.quantize);
  distances are exact bigint sums; means are re-quantized to bigint via
  floor(sum/n + 0.5) so every iteration's centroids — and therefore
  every assignment — are bit-identical across engines, partitionings,
  and reruns. Argmin ties break on the lowest centroid id.

Overflow headroom: |component| ≤ ~1e6 (unit-ish floats ×1e6), so a
squared-diff term ≤ 4e12, a 64-dim distance ≤ 2.6e14, and a corpus
inertia sum stays < 2^63 up to ~3.5e4 billion rows — not the binding
constraint at any realistic scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import quantize

MAX_K = 64  # driver-side centroid list stays trivially bounded


def _sq_dist_sql(vec_sql: str, centroid: list[int]) -> str:
    """Exact bigint squared-L2 distance of an int-vector column to a
    Python-literal centroid, as ONE Spark-SQL expression string.

    Two deliberate choices, both measured (BENCHLOG.md r11):

    - Stays the ``aggregate(zip_with(...))`` fold, not an unrolled
      ``(get(vec,i)-c_i)^2 + ...`` sum (r10 verdict task 4 verdict:
      rejection for this call site). The unrolled tree is 4.4x faster
      PER ROW (20M-row probe) but is instantiated k times inside the
      argmin and pays ~2.3s Catalyst+janino fixed cost PER ACTION,
      re-paid every Lloyd iteration — 3x slower end-to-end at bench
      corpus scale (2000 rows). Crossover measurement
      (``git show 3d2eabf:scripts/argmin_crossover.py``, numbers in
      docs/BENCHLOG.md): at the full argmin shape the unroll is also
      per-row SLOWER (64 vs 54 us/row at 200k-2M rows) — the cost is
      the 8-wide struct-array + array_min assembly, not the distance
      kernel, so NO row count favors unrolling. If a billion-row assignment pass
      ever dominates a real profile, attack the assembly shape
      (chained least()/CASE comparators or an Arrow-vectorized scorer
      a la similarity.score_int_cosine), not the kernel.
    - Built as a SQL STRING parsed JVM-side in one call, not
      Column-by-Column: constructing k x dim literal Columns costs
      1.1-1.6s of pure py4j roundtrips per argmin (measured k=8 x 64d)
      — more than the query itself at probe scale — where F.expr
      measures ~0.00s with a hash-identical result (the parsed `123L`
      literals fold to the same bigint constants).
    """
    arr = "array(" + ",".join(f"{int(c)}L" for c in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        f"(x, c) -> (x - c) * (x - c)), 0L, (acc, v) -> acc + v)"
    )


def _dist_struct_array_sql(
    vec_sql: str, centroids: list[tuple[int, list[int]]]
) -> str:
    """SQL text of the per-centroid array<struct<dist,cid>> — shared by
    the argmin (array_min) and the separation audit (array_sort)."""
    return "array(" + ", ".join(
        f"struct({_sq_dist_sql(vec_sql, c)} AS dist, "
        f"CAST({int(cid)} AS BIGINT) AS cid)"
        for cid, c in centroids
    ) + ")"


def _argmin_assignment(
    vec_sql: str, centroids: list[tuple[int, list[int]]]
) -> Column:
    """struct(dist, cid) of the nearest centroid — array_min over the
    per-centroid struct array is the lexicographic argmin, so ties break
    on the lowest cid in both Spark and the SQL oracle's row_number.
    ``centroids`` carries explicit (cid, vector) pairs: a cluster that
    emptied during an update simply has no entry, exactly like the
    oracle's means CTE dropping the group — cids stay stable.
    ``vec_sql`` is the column NAME (the expression is built as one
    JVM-parsed SQL string — see _sq_dist_sql)."""
    return F.expr(f"array_min({_dist_struct_array_sql(vec_sql, centroids)})")


def _seed_centroids(q: DataFrame, k: int) -> list[tuple[int, list[int]]]:
    """First k vectors by id — deterministic, oracle-mirrorable seeding
    (the PQ codebooks use hash-spread seeds; here the oracle must be
    able to name the seed rows in plain SQL, so id-order wins)."""
    rows = q.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    if len(rows) < k:
        raise ValueError(f"need at least {k} seed vectors with vec_id < {k}")
    return [(int(r["vec_id"]), list(r["qvec"])) for r in rows]


def _update_centroids(
    assigned: DataFrame, dim: int
) -> list[tuple[int, list[int]]]:
    """New centroids = per-(cid, pos) floor-rounded means. One
    vocabulary-sized shuffle (k×dim groups, map-side partials), then a
    bounded k×dim driver collect. A cluster that received no members
    has no groups and DROPS OUT of the returned list — the exact twin
    of the oracle's means CTE losing the group, so later assignments
    compete only over surviving centroids in both engines."""
    sums = (
        assigned.select("cid", F.posexplode("qvec").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(
            # component sums widen to decimal(38,0) BEFORE accumulating:
            # Spark's sum(bigint) wraps silently at 2^63 while the DuckDB
            # oracle's sum() promotes to HUGEINT and stays exact — with
            # |v| bounded by the 1e6 quantize scale the long sum only
            # holds to ~9e12 members
            # per cluster, a bound a 100 TB corpus can cross. The
            # decimal->double cast rounds identically to HUGEINT->double,
            # so results are bit-unchanged in the non-overflow regime.
            F.floor(
                F.sum(F.col("v").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)).cast("double")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("mv")
        )
        .collect()
    )
    by_cid: dict[int, dict[int, int]] = {}
    for r in sums:
        by_cid.setdefault(int(r["cid"]), {})[int(r["pos"])] = int(r["mv"])
    return [
        (cid, [comp[p] for p in range(dim)])
        for cid, comp in sorted(by_cid.items())
    ]


def _prepare(
    emb: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("vec_id"),
        quantize(F.col(vec_col)).alias("qvec"),
        F.col(label_col).cast("bigint").alias("label"),
    )


def _lloyd_centroids(
    q: DataFrame, k: int, iters: int
) -> list[tuple[int, list[int]]]:
    """Run ``iters - 1`` Lloyd update steps from the id-seeded start and
    return the final (cid, centroid) list — the shared kernel of the
    profile and separation-audit operators. Emptied clusters drop out
    (oracle-parity; see :func:`_update_centroids`)."""
    if k > MAX_K:
        raise ValueError(f"k={k} exceeds MAX_K={MAX_K} (driver-side centroids)")
    centroids = _seed_centroids(q, k)
    dim = len(centroids[0][1])
    for _ in range(max(0, iters - 1)):
        assigned = q.select(
            "vec_id",
            "qvec",
            _argmin_assignment("qvec", centroids)["cid"].alias("cid"),
        )
        centroids = _update_centroids(assigned, dim)
    return centroids


def kmeans_cluster_profile(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Lloyd's k-means (``iters`` assignment passes, ``iters - 1``
    update steps) returning the per-cluster profile:

    (cluster_id, n_vecs, sum_vec_id, inertia, majority_label,
    purity_x1e6)

    - inertia: exact bigint sum of squared distances to the final
      centroids — the objective k-means minimizes;
    - majority_label / purity: the cluster-vs-weak-label audit
      (ties break on the smallest label).
    """
    q = _prepare(emb, id_col, vec_col, label_col)
    centroids = _lloyd_centroids(q, k, iters)
    final = q.select(
        "vec_id",
        "label",
        _argmin_assignment("qvec", centroids).alias("best"),
    ).select(
        "vec_id",
        "label",
        F.col("best")["cid"].alias("cluster_id"),
        F.col("best")["dist"].alias("dist"),
    )
    # single pass over the assignments: per-(cluster, label) partials,
    # then a k*|labels|-row rollup — the big argmin projection runs once
    g = final.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).alias("n_lab"),
        F.sum("vec_id").cast("bigint").alias("sv"),
        F.sum("dist").cast("bigint").alias("sd"),
    )
    return (
        g.groupBy("cluster_id")
        .agg(
            F.sum("n_lab").cast("bigint").alias("n_vecs"),
            F.sum("sv").cast("bigint").alias("sum_vec_id"),
            F.sum("sd").cast("bigint").alias("inertia"),
            F.max(
                F.struct(F.col("n_lab"), (-F.col("label")).alias("neg"))
            ).alias("m"),
        )
        .select(
            "cluster_id",
            "n_vecs",
            "sum_vec_id",
            "inertia",
            (-F.col("m")["neg"]).alias("majority_label"),
            F.col("m")["n_lab"].alias("n_maj"),
        )
        .select(
            "cluster_id",
            "n_vecs",
            "sum_vec_id",
            "inertia",
            "majority_label",
            F.floor(
                F.col("n_maj").cast("double")
                * 1000000.0
                / F.col("n_vecs").cast("double")
            )
            .cast("bigint")
            .alias("purity_x1e6"),
        )
        .orderBy("cluster_id")
    )


def kmeans_separation_audit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster separation audit: nearest vs second-nearest centroid
    mass after the same Lloyd iterations as :func:`kmeans_cluster_profile`.

    For each vector, d1 = squared distance to its centroid and d2 = to
    the runner-up; per cluster the audit reports exact bigint sums of
    both and separation_x1e6 = floor(sum_d2 * 1e6 / sum_d1) — the
    simplified-silhouette/Davies-Bouldin-style centroid proxy (true
    silhouette needs pairwise intra-cluster distances, which is
    quadratic; the centroid form is the standard scalable substitute,
    cf. Vendramin et al. 2010). A ratio near 1e6 flags a cluster whose
    members sit as close to another centroid as their own — merge/split
    candidates before cluster-based sampling trusts the partition.

    Same scale shape as the profile: map-only scoring against centroid
    literals (both distances come from ONE array_sort of the k-struct
    array), one k-group aggregation.
    """
    q = _prepare(emb, id_col, vec_col, label_col)
    centroids = _lloyd_centroids(q, k, iters)
    if len(centroids) < 2:
        raise ValueError(
            "separation audit needs >= 2 surviving centroids; "
            f"{len(centroids)} left after the Lloyd updates"
        )
    ranked = F.expr(
        f"array_sort({_dist_struct_array_sql('qvec', centroids)})"
    )
    two = q.select(
        ranked[0]["cid"].alias("cluster_id"),
        ranked[0]["dist"].alias("d1"),
        ranked[1]["dist"].alias("d2"),
    )
    return (
        two.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("d1").cast("bigint").alias("sum_d1"),
            F.sum("d2").cast("bigint").alias("sum_d2"),
        )
        .select(
            "cluster_id",
            "n_vecs",
            "sum_d1",
            "sum_d2",
            F.when(
                F.col("sum_d1") > 0,
                F.floor(
                    F.col("sum_d2").cast("double")
                    * 1000000.0
                    / F.col("sum_d1").cast("double")
                ).cast("bigint"),
            ).alias("separation_x1e6"),  # NULL: all members ON the centroid
        )
        .orderBy("cluster_id")
    )


def knn_label_vote(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority label vote for the first ``n_queries`` vectors.

    Neighbours come from the exact integer-cosine Arrow scorer
    (:func:`similarity.score_int_cosine` — queries broadcast in the
    closure, corpus map-only) with the candidate label riding the
    scorer's Arrow batches via ``carry_cols`` — NO corpus-sized join
    anywhere: the only joins touch the bounded query set (truth labels
    come from the same driver-collected rows the query vectors do).
    The self-match is dropped before ranking, so each query votes over
    exactly k true neighbours; vote ties break on the smallest label.
    Returns (query_id, true_label, pred_label, votes) — one row per
    query; a pred != true row is a label-audit hit.
    """
    import numpy as np
    from pyspark.sql.window import Window

    from .similarity import quantize, score_int_cosine

    cq = emb.select(
        F.col(id_col).alias("vec_id"),
        quantize(F.col(vec_col)).alias("cvec"),
        F.col(label_col).cast("bigint").alias("label"),
    )
    q_rows = cq.filter(F.col("vec_id") < n_queries).orderBy("vec_id").collect()
    q_ids = [int(r["vec_id"]) for r in q_rows]
    q_vecs = np.asarray([r["cvec"] for r in q_rows], dtype=np.int64)
    scored = score_int_cosine(
        cq, q_ids, q_vecs, carry_cols=(("label", "long"),)
    )
    nn = scored.filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    nn = nn.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
    votes = (
        nn.groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
        .groupBy("query_id")
        .agg(
            F.max(
                F.struct(F.col("n_votes"), (-F.col("label")).alias("neg"))
            ).alias("m")
        )
        .select(
            "query_id",
            (-F.col("m")["neg"]).alias("pred_label"),
            F.col("m")["n_votes"].alias("votes"),
        )
    )
    truth = emb.sparkSession.createDataFrame(
        [(int(r["vec_id"]), int(r["label"])) for r in q_rows],
        "query_id long, true_label long",
    )
    return (
        votes.join(F.broadcast(truth), "query_id")
        .select("query_id", "true_label", "pred_label", "votes")
        .orderBy("query_id")
    )
