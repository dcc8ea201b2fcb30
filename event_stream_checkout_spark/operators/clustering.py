"""Distributed clustering over the embedding corpus (SURVEY.md §2.10
X26): Lloyd-iteration k-means refinement — the iterative-ML shape
(assign → recompute → reassign) expressed as DataFrame rounds, and the
learned-centroid upgrade path for the sign-bucket IVF index
(llm_similarity_ivf keeps its buckets static; a real ANN index
refreshes its coarse quantizer with exactly these rounds) — plus the
consumers of those learned cells: IVF search with nprobe probing
(X27), SemDeDup-style semantic dedup (X32), and int8 scalar
quantization of the vector store (X28).

Engine-exactness: k-means is normally hostile to cross-engine hash
checks (float distance sums depend on reduction order).  Here every
reduction follows the repo's fixed-point policy (functions/numeric):
per-(vector, centroid) squared-distance terms are quantized per DIM
and summed as DECIMAL(25,0) — order-independent — so assignments,
centroids (davg) and inertia are bit-identical on any engine and any
partitioning, and the whole iteration is oracle-hash-checkable.

Scale shape (r7 array-fold rewrite): assignment cross-joins each
corpus ROW with the ≤k-row broadcast centroid-ARRAY frame and folds
the d per-dim terms inside one codegen expression — n·k rows total,
never an n·d·k exploded join; the argmin is a map-side-partial
min-of-struct, and only the centroid UPDATE uses the exploded form
(its (cluster, dim) keys collapse map-side to k·d rows).  At 100 TB:
assignment is scan-local against broadcast centroids, and each
round's cost is O(n·d·k) in-expression work + two uniform shuffles
whose payloads are k·d and n·k slim rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import SCALE, davg, quant, sql_davg, sql_quant
from ..registry import register
from ..tables import load_table

_KM_K = 8  # coarse-quantizer arity (seeds = vec_id < k, deterministic)

_SQL_EX = (
    "ex AS (SELECT e.vec_id, t.i - 1 AS dim, "
    "CAST(e.embedding[t.i] AS DOUBLE) AS val "
    "FROM embeddings e, "
    "UNNEST(generate_series(1, len(e.embedding))) AS t(i))"
)

_SQL_D2 = sql_quant("(ex.val - c.cval) * (ex.val - c.cval)")


def _sql_assign(cent: str, dname: str, aname: str) -> str:
    return (
        f"{dname} AS (SELECT ex.vec_id, c.cluster, SUM({_SQL_D2}) AS dq "
        f"FROM ex JOIN {cent} c USING (dim) GROUP BY 1, 2), "
        f"{aname} AS (SELECT vec_id, cluster, dq FROM "
        f"(SELECT *, row_number() OVER (PARTITION BY vec_id "
        f"ORDER BY dq, cluster) AS rn FROM {dname}) WHERE rn = 1)"
    )


@register(
    "llm_kmeans_refine",
    oracle=f"WITH {_SQL_EX}, "
    f"seeds AS (SELECT vec_id AS cluster, dim, val AS cval FROM ex "
    f"WHERE vec_id < {_KM_K}), "
    + _sql_assign("seeds", "d1", "a1")
    + ", "
    "c1 AS (SELECT a1.cluster, ex.dim, "
    f"{sql_davg('ex.val')} AS cval "
    "FROM ex JOIN a1 ON ex.vec_id = a1.vec_id GROUP BY 1, 2), "
    + _sql_assign("c1", "d2", "a2")
    + " SELECT cluster, CAST(count(*) AS BIGINT) AS n_members, "
    "CAST(SUM(dq) AS DOUBLE) / 10000.0 AS inertia "
    "FROM a2 GROUP BY cluster",
    doc="k-means refinement rounds (X26): deterministic seeds (the "
    "first k vectors) → assign every vector to its nearest seed → "
    "recompute centroids as per-dim stable means → reassign — one "
    "full Lloyd iteration plus the final assignment, reporting "
    "per-cluster membership and exact fixed-point inertia. Distances "
    "sum DECIMAL-quantized per-dim terms (order-independent ⇒ "
    "engine-exact argmin; ties broken by cluster id); centroids are "
    "broadcast ≤k centroid-array rows folded against each corpus row "
    "in-expression, so the corpus never shuffles (or explodes) for "
    "assignment. This is the refresh loop for the IVF coarse "
    "quantizer (llm_similarity_ivf); more rounds = the same CTE/loop "
    "body repeated.",
)
def q_llm_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    a2 = kmeans_refined_assignment(
        load_table(spark, sf_dir, "embeddings"), _KM_K
    )
    return a2.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.sum("dq").cast("double") / F.lit(SCALE)).alias("inertia"),
    )


def _distances(e: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """Full (vec_id, cluster, dq) fixed-point squared-distance frame:
    the corpus row (vec_id, embedding) cross-joins the ≤k-row
    broadcast centroid-ARRAY frame (cluster, carr) and folds the
    per-dim quantized terms inside one expression.

    Plan note (r7 optimization): the original formulation exploded the
    corpus to (vec, dim, val) and joined centroids on `dim`, making an
    n·d·k intermediate (20M rows at sf0.1) through a real join.  The
    array fold keeps the work scan-local at n·k rows with the d loop
    inside codegen.  Numerically IDENTICAL: each per-dim term is
    quant()-floored to an exact integer before summation, and integer
    addition is order-independent — so dq, every argmin, and the
    graded inertia are bit-for-bit unchanged (the long accumulator is
    exact: 64 dims × |term| ≤ ~1e6 units ≪ 2^63)."""
    term = lambda v, c: quant((v.cast("double") - c) * (v.cast("double") - c)).cast(  # noqa: E731
        "long"
    )
    dq = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("carr"), term),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        e.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent_arr))
        .select("vec_id", "cluster", dq.alias("dq"))
    )


def _argmin(dq: DataFrame) -> DataFrame:
    # min of the orderable (dq, cluster) struct == ORDER BY dq, cluster
    # LIMIT 1 per vec — same tiebreak as the oracle's row_number, but
    # with map-side partial aggregation instead of a window shuffle of
    # every (vec, cluster) pair.
    best = F.min(F.struct(F.col("dq").alias("dq"), F.col("cluster").alias("cluster")))
    return (
        dq.groupBy("vec_id")
        .agg(best.alias("_b"))
        .select("vec_id", F.col("_b.cluster").alias("cluster"), F.col("_b.dq").alias("dq"))
    )


def _assign_expr(e: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """Expression-only argmin assignment: collapse the ≤k-row
    centroid-array frame to ONE row holding an array of (cluster,
    carr) structs, broadcast it, and compute each corpus row's argmin
    inside a single expression — transform over the centroid array,
    per-centroid fixed-point distance fold, array_min of the
    orderable (dq, cluster) struct.  Kept as the pure-Catalyst
    reference implementation of the assignment SEMANTICS (the
    identity witness for _assign's vectorized path); measured at
    sf1/K=256 it ties the n·k row formulation — higher-order array
    functions don't reach whole-stage-codegen tightness."""
    cents = cent_arr.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cluster").alias("cluster"), F.col("carr").alias("carr"))
            )
        ).alias("cents")
    )
    term = lambda v, c: quant(  # noqa: E731
        (v.cast("double") - c) * (v.cast("double") - c)
    ).cast("long")
    dq_of = lambda carr: F.aggregate(  # noqa: E731
        F.zip_with(F.col("embedding"), carr, term),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda s: F.struct(
                dq_of(s["carr"]).alias("dq"), s["cluster"].alias("cluster")
            ),
        )
    )
    return (
        e.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .select("vec_id", best.alias("_b"))
        .select(
            "vec_id",
            F.col("_b.cluster").alias("cluster"),
            F.col("_b.dq").alias("dq"),
        )
    )


def _assign(
    e: DataFrame, cent_arr: DataFrame, _rows: list | None = None
) -> DataFrame:
    """Vectorized argmin assignment (r11 perf): ship the ≤k-row
    centroid matrix to every task as a numpy array (a BOUNDED driver
    collect — ≤256×d doubles, the nprobe-centroid class the repo's
    collect policy already allows) and compute each Arrow batch's
    full distance matrix with numpy broadcasting inside mapInPandas:
    (b, k, d) difference tensor → per-dim floor(x²·1e4 + 0.5) →
    int64 row sums → argmin.

    Numerically IDENTICAL to ``_argmin(_distances(e, cent_arr))`` and
    to ``_assign_expr``: numpy float64 ops are the same IEEE-754
    operations in the same order as the Catalyst expression tree, the
    int64 sum is the same exact accumulator, and np.argmin's
    first-minimum rule over the cluster-ascending matrix is the same
    (dq, cluster) tiebreak as the min-of-struct (pinned by
    tests/test_wave6.py::test_assign_matches_argmin at both engine
    arities).  Why not expressions: the per-term fold is the whole
    cost of k-means/PQ at scale (n·k·d terms — 1.6B per subspace pass
    at sf10/K=256), and measured head-to-head the HOF expression and
    the n·k row formulation both run ~6× slower than the numpy batch
    kernel (SCALE.md r11).  Scale shape: one scan-local Arrow pass
    over the corpus, zero shuffle, O(k·d) task-side state;
    per-batch memory is bounded by chunking rows so the (rows, k, d)
    tensor stays ≤64 MB.  Precondition (same as the expression path):
    embedding vectors are non-null, fixed-length and finite — the
    engine's embeddings contract (the null sweep nulls labels, never
    vectors); ``_clean_embedding_batch`` enforces it per batch and
    ``_centroid_matrix`` on the centroids.
    """
    import pandas as pd

    # ``_rows`` (r17, VERDICT r16 item 4): callers that already hold
    # the collected centroid rows (kmeans_refined_full materializes
    # them ONCE per Lloyd pass now) pass them in, skipping this
    # bounded collect action entirely.
    rows = sorted(
        cent_arr.select("cluster", "carr").collect()
        if _rows is None
        else _rows,
        key=lambda r: r["cluster"],
    )
    if not rows:
        # Degenerate: no centroids (empty training corpus).  The
        # expression path produced an empty assignment (join against
        # an empty broadcast); mirror that instead of handing numpy a
        # shapeless matrix.
        return e.select("vec_id").limit(0).select(
            "vec_id",
            F.lit(None).cast("long").alias("cluster"),
            F.lit(None).cast("long").alias("dq"),
        )
    clusters, cmat = _centroid_matrix(rows)
    d_expect = cmat.shape[1]

    def part(batches):
        for pdf in batches:
            vmat, pdf = _clean_embedding_batch(pdf, d_expect)
            if vmat is None:
                continue
            idx, od = _batch_argmin(vmat, cmat)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster": clusters[idx],
                    "dq": od,
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        part, "vec_id long, cluster long, dq long"
    )


def _clean_embedding_batch(pdf, d_expect: int):
    """Enforce the non-null fixed-length precondition the numpy
    conversion assumes (ADVICE r11: a single bad vector used to fail
    the whole job for every kmeans/PQ/IVF consumer).  NULLs drop — a
    null join key matches no centroid, the semantics of the replaced
    expression path; a RAGGED vector, or one with a NaN/inf element, is
    corrupt input and fails loudly with its id (a NaN would otherwise
    floor to a garbage int64 distance and corrupt the centroids).
    Returns (float64 matrix, filtered pdf) or (None, None) for an
    emptied batch."""
    import numpy as np

    emb = pdf["embedding"]
    null_mask = emb.isna()
    if null_mask.any():
        pdf = pdf[~null_mask]
        emb = pdf["embedding"]
    if len(pdf) == 0:
        return None, None
    lens = emb.map(len).to_numpy()
    if (lens != d_expect).any():
        bad = pdf["vec_id"].to_numpy()[lens != d_expect][:5]
        raise ValueError(
            f"_assign: ragged embedding(s) — expected dim "
            f"{d_expect}, offending vec_id(s) {list(bad)}"
        )
    vmat = np.array(emb.tolist(), dtype=np.float64)
    finite = np.isfinite(vmat).all(axis=1)
    if not finite.all():
        bad = pdf["vec_id"].to_numpy()[~finite][:5]
        raise ValueError(
            "_assign: non-finite (NaN/inf) embedding element(s), "
            f"offending vec_id(s) {bad.tolist()}"
        )
    return vmat, pdf


def _centroid_matrix(rows: list):
    """(cluster ids, float64 centroid matrix) of centroid rows sorted by
    cluster.  A NaN/inf element fails here, on the driver, with its
    cluster ids — a seed centroid is the corpus vector whose vec_id is
    its cluster id."""
    import numpy as np

    clusters = np.array([r["cluster"] for r in rows], dtype=np.int64)
    cmat = np.array([r["carr"] for r in rows], dtype=np.float64)
    finite = np.isfinite(cmat).all(axis=1)
    if not finite.all():
        raise ValueError(
            "non-finite (NaN/inf) centroid element(s), offending "
            f"cluster(s) {clusters[~finite][:5].tolist()}"
        )
    return clusters, cmat


def _batch_argmin(vmat, cmat):
    """The r11 vectorized argmin kernel, shared by ``_assign`` and the
    fused training pass ``_lloyd_centroids``: per-dim
    floor(diff²·1e4 + 0.5) int64 row sums against the centroid matrix,
    first-minimum argmin over cluster-ascending rows (the (dq,
    cluster) struct tiebreak).  Returns (centroid row index, dq) per
    input row.  Rows are chunked so the (rows, k, d) float64 tensor
    stays ≤64 MB."""
    import numpy as np

    m = len(vmat)
    oi = np.empty(m, np.int64)
    od = np.empty(m, np.int64)
    step = max(1, 8_000_000 // max(1, cmat.shape[0] * cmat.shape[1]))
    for s in range(0, m, step):
        vc = vmat[s : s + step]
        diff = vc[:, None, :] - cmat[None, :, :]
        dq = (
            np.floor(diff * diff * 10000.0 + 0.5)
            .astype(np.int64)
            .sum(axis=2)
        )
        idx = dq.argmin(axis=1)
        oi[s : s + len(vc)] = idx
        od[s : s + len(vc)] = dq[np.arange(len(vc)), idx]
    return oi, od


def _centroid_arrays(cent: DataFrame) -> DataFrame:
    """(cluster, dim, cval) → (cluster, carr) with carr ordered by dim."""
    return cent.groupBy("cluster").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim").alias("dim"), F.col("cval").alias("cval")))
            ),
            lambda s: s["cval"],
        ).alias("carr")
    )


def _centroid_local(c1: DataFrame) -> tuple[list, DataFrame]:
    """Materialize a (cluster, dim, cval) centroid-update frame as BOTH
    the collected rows and a driver-local DataFrame (r17, VERDICT r16
    item 4).  One bounded action (≤k rows of ≤256 doubles — the
    nprobe-centroid collect class) replaces the former localCheckpoint
    job + per-_assign re-collect.  The frame is not a LocalRelation:
    ``createDataFrame(list)`` scans a Python RDD, so each collect or
    broadcast of it still fires jobs.  Downstream ``_assign`` calls
    reuse the rows without touching the cluster, and
    collect→createDataFrame round-trips binary64 exactly (Python
    floats are the same IEEE-754 doubles), so every consumer sees
    bit-identical centroids."""
    rows = sorted(
        _centroid_arrays(c1).collect(), key=lambda r: r["cluster"]
    )
    spark = c1.sparkSession
    cent = spark.createDataFrame(
        [(r["cluster"], r["carr"]) for r in rows],
        "cluster bigint, carr array<double>",
    )
    return rows, cent


def _lloyd_centroids(t: DataFrame, seed_rows: list) -> DataFrame:
    """One Lloyd centroid update as a SINGLE fused corpus scan (r17,
    guide §8 — shuffle lightweight partials, never the payload): each
    task assigns its Arrow batches with the shared ``_batch_argmin``
    kernel and accumulates per-(cluster, dim) QUANTIZED value sums +
    member counts, emitting one ≤k·d-row partial per task; a final
    k·d-key aggregate finishes davg.  Replaces the r7 exploded form —
    assignment pass, (vec, dim, val) posexplode scan, corpus×d join on
    vec_id, (cluster, dim) shuffle — with one scan and a k·d-row
    shuffle.

    Numerically IDENTICAL to davg over the exploded join: the per-task
    int64 partials sum floor(val·1e4 + 0.5) terms (the same doubles
    ``quant`` floors — float→double widening is exact), integer
    addition is order-independent, the DECIMAL(25,0) re-sum matches
    ``F.sum(quant(val))`` exactly, and the closing
    ``(sum/SCALE)/count`` is the same two double divisions in the same
    order.  Per-task overflow is impossible (|quant| ≲ 1e7 per term ×
    ≲1e9 rows/task ≪ 2^63); the cross-task sum rides DECIMAL(25,0)
    like every engine reduction.  Null vectors drop (same as the
    assignment they never joined); a cluster with no members is simply
    absent, as before.  Empty seeds → empty centroid frame, matching
    the old empty-assignment join."""
    import numpy as np

    spark = t.sparkSession
    if not seed_rows:
        return spark.createDataFrame(
            [], "cluster long, dim int, cval double"
        )
    clusters, cmat = _centroid_matrix(
        sorted(seed_rows, key=lambda r: r["cluster"])
    )
    k, d_expect = cmat.shape

    def part(batches):
        import pandas as pd

        qsum = np.zeros((k, d_expect), dtype=np.int64)
        cnt = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            vmat, pdf = _clean_embedding_batch(pdf, d_expect)
            if vmat is None:
                continue
            idx, _ = _batch_argmin(vmat, cmat)
            q = np.floor(vmat * 10000.0 + 0.5).astype(np.int64)
            order = np.argsort(idx, kind="stable")
            so = idx[order]
            qs = q[order]
            starts = np.searchsorted(so, np.arange(k), side="left")
            ends = np.searchsorted(so, np.arange(k), side="right")
            for c in range(k):
                if ends[c] > starts[c]:
                    qsum[c] += qs[starts[c] : ends[c]].sum(axis=0)
                    cnt[c] += ends[c] - starts[c]
        nz = np.nonzero(cnt)[0]
        if len(nz):
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(clusters[nz], d_expect),
                    "dim": np.tile(
                        np.arange(d_expect, dtype=np.int32), len(nz)
                    ),
                    "qsum": qsum[nz].reshape(-1),
                    "cnt": np.repeat(cnt[nz], d_expect),
                }
            )

    parts = t.select("vec_id", "embedding").mapInPandas(
        part, "cluster long, dim int, qsum long, cnt long"
    )
    from ..functions.numeric import DEC

    return parts.groupBy("cluster", "dim").agg(
        (
            F.sum(F.col("qsum").cast(DEC)).cast("double")
            / F.lit(SCALE)
            / F.sum("cnt")
        ).alias("cval")
    )


def kmeans_refined(e: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """One Lloyd round over an embeddings frame; returns the final
    round's FULL distance frame d2 (every (vec, cluster) pair — the
    IVF probe needs the query's distance to every centroid, not just
    its argmin) and the final assignment a2.

    Memory note (r10, the sf10 8g-heap OOM): the pinned diamond is
    the k-row CENTROID-ARRAY frame, not d2 itself.  Checkpointing d2
    materializes n·k rows (51M at sf10 × K=256 — ~1.5 GB per PQ
    subspace, twice per PQ query; execution memory then starves under
    the default heap).  Every cross-branch consumer either filters d2
    to the query row (the LUT legs — the vec_id predicate pushes
    below the broadcast cross join to the scan, reading ONE row) or
    folds it straight into the argmin aggregate (scan-local, nothing
    retained), so re-deriving d2 lazily from the tiny pinned
    centroids costs one extra codegen pass and zero materialized
    bytes.  The first Lloyd pass still runs exactly once — its
    result IS the checkpointed centroid frame."""
    _cent2, d2, a2 = kmeans_refined_full(e, k)
    return d2, a2


def kmeans_refined_full(
    e: DataFrame, k: int, train: DataFrame | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """kmeans_refined PLUS the learned centroid-array frame itself —
    the persisted-index build (X60) must store the codebooks, not just
    the assignments, so query sessions can recompute LUTs without
    retraining.  Same single Lloyd pass; cent2 is the pinned k-row
    frame, so returning it costs nothing extra.

    ``train`` (r10 verdict item 5): when given, the Lloyd pass — first
    assignment and centroid update — runs on that subset only while
    seeds stay the full corpus's first k vectors (deterministic
    regardless of the sample) and the FINAL assignment d2/a2 still
    covers every row of ``e``.  This is how production quantizers
    train (FAISS trains codebooks on a sample, codes everything);
    training cost drops with |train| while the coded output remains
    corpus-complete.  A cluster with no training members drops out of
    the codebook on both engines identically (its c1 group is simply
    absent)."""
    t = e if train is None else train
    seeds = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster"),
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias(
            "carr"
        ),
    )
    # Seed collect: the same bounded ≤k-row action _assign used to run
    # internally; collected once here so the fused training scan below
    # can ship the seed matrix into its tasks directly.
    seed_rows = sorted(
        seeds.select("cluster", "carr").collect(),
        key=lambda r: r["cluster"],
    )
    # Centroid update (r17): ONE fused scan of the training frame —
    # per-task assignment (shared _batch_argmin kernel) + quantized
    # per-(cluster, dim) partials — replaces the r7 exploded form
    # (assignment pass + posexplode scan + corpus×d vec_id join +
    # (cluster, dim) shuffle of n·d rows).  See _lloyd_centroids for
    # the bit-exactness argument.
    c1 = _lloyd_centroids(t, seed_rows)
    # r17 (VERDICT r16 item 4): the learned centroids are collected
    # ONCE and rebuilt as a driver-local frame — the former shape paid
    # a localCheckpoint job here AND a separate bounded collect inside
    # every downstream _assign; now one action serves both, and
    # consumers that broadcast or join cent2 (the LUT legs, the
    # persisted-index codebook write) read a LocalTableScan with no
    # cluster job at all.
    rows, cent2 = _centroid_local(c1)
    d2 = _distances(e, cent2)
    return cent2, d2, _assign(e, cent2, _rows=rows)


def kmeans_refined_assignment(e: DataFrame, k: int) -> DataFrame:
    """One Lloyd round + final assignment over an embeddings frame —
    factored out of the registered query so tests can drive it with
    crafted blob geometries and inspect per-vector assignments
    (tests/test_curation.py).  Returns (vec_id, cluster, dq)."""
    return kmeans_refined(e, k)[1]


def kmeans_refined_pair(
    ea: DataFrame,
    eb: DataFrame,
    k: int,
    train_a: DataFrame | None = None,
    train_b: DataFrame | None = None,
) -> tuple[
    tuple[DataFrame, DataFrame, DataFrame],
    tuple[DataFrame, DataFrame, DataFrame],
]:
    """Train the two PQ subspace quantizers CONCURRENTLY (r16; guide
    §2.6 — overlap independent jobs).  The a/b Lloyd passes share no
    state, so running them from two driver threads lets each one's
    serial actions (seed-assignment collect, centroid checkpoint,
    final-assignment collect) back-fill the other's stage tails
    instead of idling the executors between jobs.  Each training is
    deterministic and independent, so results are identical to the
    sequential calls this replaces.  Returns the two
    ``kmeans_refined_full`` triples ((cent, d2, assign) each)."""
    a, b = kmeans_refined_many([(ea, k, train_a), (eb, k, train_b)])
    return a, b


def kmeans_refined_many(
    specs: list[tuple[DataFrame, int, DataFrame | None]],
) -> list[tuple[DataFrame, DataFrame, DataFrame]]:
    """Run several independent seeded-Lloyd trainings concurrently
    (guide §2.6) — the generalization behind kmeans_refined_pair, also
    used to overlap the IVF coarse quantizer with the two PQ subspace
    trainings (X59's 'three independent seeded-Lloyd rounds over the
    same scan' run as three concurrent jobs instead of serially).
    ``specs`` is [(frame, k, train-subset-or-None), ...]; returns the
    ``kmeans_refined_full`` triples in input order."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def run(spec):
        e, k, train = spec
        return kmeans_refined_full(e, k, train=train)

    with ThreadPoolExecutor(max_workers=max(2, len(specs))) as pool:
        futs = [pool.submit(inheritable_thread_target(run), s) for s in specs]
        return [f.result() for f in futs]


# ---------------------------------------------------------------------------
# X27: IVF ANN search with the LEARNED coarse quantizer
# ---------------------------------------------------------------------------

_IVF_NPROBE = 2
_IVF_TOPK = 10

_SQL_COS = (
    "scored AS (SELECT e.vec_id, e.label, "
    "  list_reduce(list_transform(generate_series(1, len(e.embedding)), "
    "    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), "
    "    (x, y) -> x + y) AS dot, "
    "  sqrt(list_reduce(list_transform(e.embedding, "
    "    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y)) AS nrm, "
    "  sqrt(list_reduce(list_transform(q.qv, "
    "    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y)) AS qnrm "
    "  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN qv q)"
)


@register(
    "llm_similarity_ivf_kmeans",
    oracle=f"WITH {_SQL_EX}, "
    f"seeds AS (SELECT vec_id AS cluster, dim, val AS cval FROM ex "
    f"WHERE vec_id < {_KM_K}), "
    + _sql_assign("seeds", "d1", "a1")
    + ", "
    "c1 AS (SELECT a1.cluster, ex.dim, "
    f"{sql_davg('ex.val')} AS cval "
    "FROM ex JOIN a1 ON ex.vec_id = a1.vec_id GROUP BY 1, 2), "
    + _sql_assign("c1", "d2", "a2")
    + ", "
    f"probe AS (SELECT cluster FROM d2 WHERE vec_id = 0 "
    f"ORDER BY dq, cluster LIMIT {_IVF_NPROBE}), "
    "cand AS (SELECT a2.vec_id FROM a2 JOIN probe USING (cluster) "
    "WHERE a2.vec_id <> 0), "
    "qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
    + _SQL_COS
    + " SELECT vec_id, label, round(dot / (nrm * qnrm), 6) AS cosine "
    f"FROM scored ORDER BY dot / (nrm * qnrm) DESC, vec_id LIMIT {_IVF_TOPK}",
    doc="IVF ANN search with the LEARNED coarse quantizer (X27): the "
    "production composition of X26 and X3 — k-means centroids from "
    "one Lloyd round become the IVF inverted lists; the query probes "
    "its nprobe=2 nearest centroids (fixed-point distances, "
    "engine-exact ordering) and exact-cosine-reranks ONLY the "
    "vectors assigned to those lists. This replaces "
    "llm_similarity_ivf's static sign-buckets with data-adaptive "
    "cells, which is what real IVF indexes (FAISS-style) do. Scale "
    "shape: assignment is map-side against broadcast k·d centroids "
    "(the corpus never shuffles); at 100 TB the assignment is the "
    "partition column of the vector store, so a probe reads "
    "nprobe/k of the files — the rerank set, not the corpus, is the "
    "query cost. Recall is governed by nprobe exactly as in IVF "
    "theory; the exact top-k baseline (llm_similarity_topk) measures "
    "it.",
)
def q_llm_similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    d2, a2 = kmeans_refined(e, _KM_K)
    probe = (
        d2.filter(F.col("vec_id") == 0)
        .orderBy("dq", "cluster")
        .limit(_IVF_NPROBE)
        .select("cluster")
    )
    cand = (
        a2.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe), "cluster")
        .select("vec_id")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    scored = (
        e.join(cand, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (
                dot(F.col("embedding"), F.col("qv"))
                / (
                    F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                    * F.sqrt(dot(F.col("qv"), F.col("qv")))
                )
            ).alias("cos_raw"),
        )
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(_IVF_TOPK)
        .select("vec_id", "label", F.round("cos_raw", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# X28: int8 scalar quantization of the embedding corpus
# ---------------------------------------------------------------------------

_QLEVELS = 255


@register(
    "llm_embedding_quantize",
    oracle=f"WITH {_SQL_EX}, "
    "rng AS (SELECT dim, min(val) AS lo, max(val) AS hi FROM ex GROUP BY 1), "
    "coded AS (SELECT ex.vec_id, ex.dim, ex.val, r.lo, r.hi, "
    f"least(floor((ex.val - r.lo) / (r.hi - r.lo) * {_QLEVELS}.0 + 0.5), "
    f"{_QLEVELS}) AS code FROM ex JOIN rng r USING (dim)), "
    "recon AS (SELECT vec_id, val - (lo + code / "
    f"{_QLEVELS}.0 * (hi - lo)) AS err FROM coded) "
    "SELECT vec_id, "
    "(CAST(SUM(CAST(floor(err * err * 100000000.0 + 0.5) AS DECIMAL(25,0))) "
    "AS DOUBLE) / 100000000.0) AS sq_err "
    "FROM recon GROUP BY vec_id",
    doc="int8 scalar quantization (X28): per-dimension (lo, hi) ranges "
    "→ 8-bit codes → reconstruction squared error per vector — the "
    "memory story for vector search at 100 TB (4 bytes → 1 byte per "
    "dim cuts the IVF lists' footprint 4×; the error frame is how you "
    "validate the recall cost before committing). Ranges are a "
    "64-row broadcast; coding and reconstruction are scan-local float "
    "expressions with IDENTICAL trees on both engines (+,-,*,/ are "
    "IEEE-exact), and the per-vector error reduces through a 1e-8 "
    "fixed-point sum (errors are ~1e-3, so the money-scale 1e-4 quant "
    "would flush them — same policy, finer grain). One corpus-scan, "
    "one uniform vec_id shuffle.",
)
def q_llm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fval")
    ).select("vec_id", "dim", F.col("fval").cast("double").alias("val"))
    rng = ex.groupBy("dim").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    span = F.col("hi") - F.col("lo")
    code = F.least(
        F.floor((F.col("val") - F.col("lo")) / span * float(_QLEVELS) + 0.5),
        F.lit(float(_QLEVELS)),
    )
    err = F.col("val") - (F.col("lo") + code / float(_QLEVELS) * span)
    fine_q = F.floor(err * err * 100000000.0 + 0.5).cast("decimal(25,0)")
    return (
        ex.join(F.broadcast(rng), "dim")
        .groupBy("vec_id")
        .agg(
            (F.sum(fine_q).cast("double") / 100000000.0).alias("sq_err")
        )
    )


# ---------------------------------------------------------------------------
# X32: semantic dedup within learned cells (SemDeDup shape)
# ---------------------------------------------------------------------------

_SEM_THRESHOLD = 0.4  # same bar as the sign-bucket near-dup variant
# Adversarial-clustering backstop (r7 verdict item 4, the
# _LSH_BUCKET_CAP stance): a degenerate corpus (all vectors
# identical, or k seeds that collapse) can put ~everything in ONE
# cell, and cell² would be the all-pairs blow-up the cells exist to
# prevent.  Cells bigger than the cap are dropped entirely — an
# over-dense cell is a mass-duplication pathology better handled by
# exact dedup than by O(cell²) cosine pairs.  Never triggers on
# healthy clustering (k is sized for ~constant cell rows).
_SEM_CELL_CAP = 1000

_SQL_PAIR_COS = (
    "scoredp AS (SELECT p.vec_a, p.vec_b, p.cluster, "
    "  list_reduce(list_transform(generate_series(1, len(ea.embedding)), "
    "    i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)), "
    "    (x, y) -> x + y) AS dot, "
    "  sqrt(list_reduce(list_transform(ea.embedding, "
    "    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y)) AS na, "
    "  sqrt(list_reduce(list_transform(eb.embedding, "
    "    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y)) AS nb "
    "  FROM prs p JOIN embeddings ea ON p.vec_a = ea.vec_id "
    "  JOIN embeddings eb ON p.vec_b = eb.vec_id)"
)


@register(
    "llm_semantic_dedup",
    oracle=f"WITH {_SQL_EX}, "
    f"seeds AS (SELECT vec_id AS cluster, dim, val AS cval FROM ex "
    f"WHERE vec_id < {_KM_K}), "
    + _sql_assign("seeds", "d1", "a1")
    + ", "
    "c1 AS (SELECT a1.cluster, ex.dim, "
    f"{sql_davg('ex.val')} AS cval "
    "FROM ex JOIN a1 ON ex.vec_id = a1.vec_id GROUP BY 1, 2), "
    + _sql_assign("c1", "d2", "a2")
    + ", "
    "cells AS (SELECT cluster FROM a2 GROUP BY 1 "
    f"  HAVING count(*) <= {_SEM_CELL_CAP}), "
    "a2k AS (SELECT a2.* FROM a2 JOIN cells USING (cluster)), "
    "prs AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cluster "
    "  FROM a2k x JOIN a2k y ON x.cluster = y.cluster "
    "  AND x.vec_id < y.vec_id), "
    + _SQL_PAIR_COS
    + " SELECT vec_a, vec_b, cluster, round(dot / (na * nb), 6) AS cosine "
    f"FROM scoredp WHERE dot / (na * nb) >= {_SEM_THRESHOLD}",
    doc="Semantic dedup within learned cells (X32, the SemDeDup "
    "shape): near-duplicate embedding pairs found by exact cosine "
    "INSIDE each k-means cell only — the learned-partition upgrade "
    "of llm_embedding_near_dup's static sign-buckets, and exactly "
    "how production semantic dedup bounds its pair space (vectors in "
    "different cells are far apart by construction, so the O(n²) "
    "pair join becomes Σ cell² with cells that TRACK the data "
    "distribution instead of hashing blindly). Cell SIZE is the scale "
    "knob, exactly like the sign-bucket variant's bits parameter: k "
    "grows with the corpus (k ≈ n / target-cell-rows — thousands of "
    "cells at 100 TB, so cell² stays a bounded constant per "
    "partition); k=8 pins the oracle at test SF. Same 0.4 cosine bar "
    "as the sign-bucket variant, so the two candidate generators are "
    "directly comparable. The pair join keys on the cell id (uniform "
    "after Lloyd balancing); per-pair cosine is the proven IEEE "
    "left-fold. At 100 TB, cells are the vector store's partitions — "
    "the join is partition-local. Adversarial clustering (everything "
    "in one cell) is capped: cells over "
    f"{_SEM_CELL_CAP} rows are dropped in BOTH engines (the LSH "
    "bucket-cap stance), so O(cell²) is bounded even when Lloyd "
    "degenerates; the k-scaling property (pair space ~constant per "
    "cell when k grows with n) is pinned in tests/test_wave6.py.",
)
def q_llm_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return semantic_pairs(e, _KM_K)


def semantic_pairs(
    e: DataFrame, k: int, cap: int = _SEM_CELL_CAP
) -> DataFrame:
    """The cell-local cosine pair plan over an embeddings frame —
    factored out of the registered query so property tests can drive
    it with adversarial corpora (one degenerate cell beyond ``cap``
    must yield ZERO pairs, never O(cell²) join output) and scaled
    (n, k) pairs."""
    _, a2 = kmeans_refined(e, k)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # ≤k-row cell-size gate, broadcast back onto the assignment.
    cells = (
        a2.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= cap)
        .drop("_n")
    )
    # Per-vector norm ONCE before the pair join (the same precompute
    # the sign-bucket variant uses): each pair then folds one dot, not
    # a dot plus two redundant norm folds — 3x less lambda work on the
    # O(Σ cell²) frame.  sqrt of the identical fold is the identical
    # double, so cosines are bit-unchanged.
    asg = (
        a2.select("vec_id", "cluster")
        .join(F.broadcast(cells), "cluster")
        .join(e, "vec_id")
        .select(
            "vec_id",
            "cluster",
            "embedding",
            F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        )
    )
    ea = asg.select(
        F.col("vec_id").alias("vec_a"), "cluster",
        F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a"),
    )
    eb = asg.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cluster").alias("cluster_b"),
        F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b"),
    )
    prs = ea.join(
        eb,
        (F.col("cluster") == F.col("cluster_b"))
        & (F.col("vec_a") < F.col("vec_b")),
    )

    cos = dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        prs.withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= _SEM_THRESHOLD)
        .select(
            "vec_a",
            "vec_b",
            "cluster",
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# X35: product quantization (PQ) — the IVF-PQ coding half
# ---------------------------------------------------------------------------

_PQ_K = 256  # codewords per subspace (2 subspaces -> 65536 composite
#              codes) — PRODUCTION arity (r9 verdict item 1; the r7-r8
#              rounds graded a toy K=4, leaving K=256 "same plan,
#              unmeasured").  Seeds are the first K vec_ids; corpora
#              smaller than K train fewer codewords, identically on
#              both engines.


def _sql_pq_assign(ex: str, cent: str, dname: str, aname: str) -> str:
    """_sql_assign parameterized by the (sub)space CTE name."""
    return (
        f"{dname} AS (SELECT {ex}.vec_id, c.cluster, SUM({_SQL_D2.replace('ex.', ex + '.')}) AS dq "
        f"FROM {ex} JOIN {cent} c USING (dim) GROUP BY 1, 2), "
        f"{aname} AS (SELECT vec_id, cluster, dq FROM "
        f"(SELECT *, row_number() OVER (PARTITION BY vec_id "
        f"ORDER BY dq, cluster) AS rn FROM {dname}) WHERE rn = 1)"
    )


def _sql_pq_half(tag: str, pred: str) -> str:
    """Seeds → assign → recompute → reassign for one subspace, global
    dim indices kept (both sides key centroids on the same dims)."""
    return (
        f"ex{tag} AS (SELECT * FROM ex WHERE {pred}), "
        f"seeds{tag} AS (SELECT vec_id AS cluster, dim, val AS cval "
        f"FROM ex{tag} WHERE vec_id < {_PQ_K}), "
        + _sql_pq_assign(f"ex{tag}", f"seeds{tag}", f"d1{tag}", f"a1{tag}")
        + f", c1{tag} AS (SELECT a.cluster, x.dim, {sql_davg('x.val')} AS cval "
        f"FROM ex{tag} x JOIN a1{tag} a ON x.vec_id = a.vec_id GROUP BY 1, 2), "
        + _sql_pq_assign(f"ex{tag}", f"c1{tag}", f"d2{tag}", f"a2{tag}")
    )


# Sampled-training threshold (r10 verdict item 5): codebooks train on
# the md5(vec_id)-keyed half-corpus — the llm_sample_hash rule
# (reproducible across runs, engines, partitionings) — while the final
# coding pass still covers every vector.
_PQ_TRAIN_HI = "8000"
_PQ_TRAIN_PRED = (
    f"substring(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '{_PQ_TRAIN_HI}'"
)


def _sql_pq_half_sampled(tag: str, pred: str) -> str:
    """_sql_pq_half with the Lloyd pass (first assignment + centroid
    update) restricted to the md5-keyed training half; seeds stay the
    full corpus's first k vectors and the FINAL assignment d2/a2 still
    covers every row — same CTE names, so consumers are unchanged."""
    return (
        f"ex{tag} AS (SELECT * FROM ex WHERE {pred}), "
        f"tr{tag} AS (SELECT * FROM ex{tag} WHERE {_PQ_TRAIN_PRED}), "
        f"seeds{tag} AS (SELECT vec_id AS cluster, dim, val AS cval "
        f"FROM ex{tag} WHERE vec_id < {_PQ_K}), "
        + _sql_pq_assign(f"tr{tag}", f"seeds{tag}", f"d1{tag}", f"a1{tag}")
        + f", c1{tag} AS (SELECT a.cluster, x.dim, {sql_davg('x.val')} AS cval "
        f"FROM tr{tag} x JOIN a1{tag} a ON x.vec_id = a.vec_id GROUP BY 1, 2), "
        + _sql_pq_assign(f"ex{tag}", f"c1{tag}", f"d2{tag}", f"a2{tag}")
    )


@register(
    "llm_pq_code",
    oracle=f"WITH {_SQL_EX}, "
    "h AS (SELECT len(embedding) // 2 AS h FROM embeddings LIMIT 1), "
    + _sql_pq_half("a", "dim < (SELECT h FROM h)")
    + ", "
    + _sql_pq_half("b", "dim >= (SELECT h FROM h)")
    + " SELECT a.vec_id, a.cluster AS code_a, b.cluster AS code_b, "
    "round((CAST(a.dq AS DOUBLE) + CAST(b.dq AS DOUBLE)) / 10000.0, 6) "
    "AS sq_err FROM a2a a JOIN a2b b ON a.vec_id = b.vec_id",
    doc="Product-quantization coding (X35): split each vector into 2 "
    "subspaces, learn a 256-codeword codebook per subspace (the SAME "
    "deterministic seeded-Lloyd round as X26, run on the half-"
    "vectors), and code every vector as its per-subspace nearest "
    "codewords — 65536 composite codes from 2x256 centroids (the "
    "production arity: one byte per subspace, r9 verdict item 1), the "
    "compression that makes IVF-PQ indexes hold billion-vector "
    "stores in RAM (Jegou et al., 'Product Quantization for Nearest "
    "Neighbor Search': quantize subspaces independently, the "
    "composite codebook is their cartesian product). sq_err is the "
    "exact fixed-point reconstruction error (sum of the two "
    "subspace distances — order-independent DECIMAL sums, engine-"
    "exact). Distributed shape inherits X26's: per subspace the "
    "corpus never shuffles for assignment (broadcast codebook "
    "arrays, in-expression folds), and the final code join keys "
    "vec_id against vec_id — two slim n-row frames. Completes the "
    "ANN story: IVF cells (X27) partition, PQ codes compress, int8 "
    "(X28) is the scalar alternative.",
)
def q_llm_pq_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_code_frame(
        load_table(spark, sf_dir, "embeddings"), _PQ_K
    )


def pq_code_frame(e: DataFrame, k: int = _PQ_K) -> DataFrame:
    """X35's coding plan at codebook arity k — factored so tests can
    drive crafted blob geometries at a readable K=4 while the
    registered key grades the production K=256."""
    n = F.size("embedding")
    h = (n / 2).cast("int")
    sub_a = e.select("vec_id", F.slice("embedding", F.lit(1), h).alias("embedding"))
    sub_b = e.select(
        "vec_id", F.slice("embedding", h + 1, (n - h)).alias("embedding")
    )
    (_ca, _d2a, aa), (_cb, _d2b, ab) = kmeans_refined_pair(sub_a, sub_b, k)
    aa = aa.select(
        "vec_id", F.col("cluster").alias("code_a"), F.col("dq").alias("dqa")
    )
    ab = ab.select(
        "vec_id", F.col("cluster").alias("code_b"), F.col("dq").alias("dqb")
    )
    return aa.join(ab, "vec_id").select(
        "vec_id",
        "code_a",
        "code_b",
        F.round(
            (F.col("dqa").cast("double") + F.col("dqb").cast("double"))
            / F.lit(SCALE),
            6,
        ).alias("sq_err"),
    )


# ---------------------------------------------------------------------------
# X36: asymmetric-distance (ADC) top-k search over PQ codes
# ---------------------------------------------------------------------------

_ADC_TOPK = 10


@register(
    "llm_pq_adc_topk",
    oracle=f"WITH {_SQL_EX}, "
    "h AS (SELECT len(embedding) // 2 AS h FROM embeddings LIMIT 1), "
    + _sql_pq_half("a", "dim < (SELECT h FROM h)")
    + ", "
    + _sql_pq_half("b", "dim >= (SELECT h FROM h)")
    + ", luta AS (SELECT cluster, dq FROM d2a WHERE vec_id = 0), "
    "lutb AS (SELECT cluster, dq FROM d2b WHERE vec_id = 0) "
    "SELECT a.vec_id, "
    "round((CAST(la.dq AS DOUBLE) + CAST(lb.dq AS DOUBLE)) / 10000.0, 6) "
    "AS adc_dist "
    "FROM a2a a JOIN a2b b ON a.vec_id = b.vec_id "
    "JOIN luta la ON a.cluster = la.cluster "
    "JOIN lutb lb ON b.cluster = lb.cluster "
    "WHERE a.vec_id <> 0 "
    f"ORDER BY la.dq + lb.dq, a.vec_id LIMIT {_ADC_TOPK}",
    doc="Asymmetric-distance top-k search over PQ codes (X36): the "
    "query half of IVF-PQ — the query vector stays EXACT while the "
    "corpus is represented only by its X35 codes, and distance is "
    "looked up, not computed: d(q, v) ≈ Σ_subspace "
    "LUT_m[code_m(v)], where LUT_m holds the query's fixed-point "
    "distance to each of the 256 codewords (2×256 = 512 scalars — the "
    "whole per-query cost at ANY corpus size; that lookup-table "
    "trick is why PQ search is memory-bandwidth-bound, Jegou et "
    "al.). Engine shape: the LUTs fall out of the refiner's final "
    "distance frame for free (the query row's 256 per-codeword "
    "distances), broadcast onto the n-row code frame; scoring is "
    "two broadcast-hash lookups + one integer add per vector, and "
    "the top-k is a TakeOrdered heap — no corpus shuffle, no "
    "per-vector float fold at query time (contrast the exact "
    "llm_similarity_topk, which folds all d dims per vector). "
    "Fixed-point dq sums make the ADC ranking engine-exact, "
    "tie-broken by vec_id.",
)
def q_llm_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    n = F.size("embedding")
    h = (n / 2).cast("int")
    sub_a = e.select(
        "vec_id", F.slice("embedding", F.lit(1), h).alias("embedding")
    )
    sub_b = e.select(
        "vec_id", F.slice("embedding", h + 1, (n - h)).alias("embedding")
    )
    (_ca, d2a, aa), (_cb, d2b, ab) = kmeans_refined_pair(sub_a, sub_b, _PQ_K)
    luta = d2a.filter(F.col("vec_id") == 0).select(
        "cluster", F.col("dq").alias("la")
    )
    lutb = d2b.filter(F.col("vec_id") == 0).select(
        "cluster", F.col("dq").alias("lb")
    )
    scored = (
        aa.filter(F.col("vec_id") != 0)
        .select("vec_id", "cluster")
        .join(F.broadcast(luta), "cluster")
        .select("vec_id", "la")
        .join(
            ab.select("vec_id", "cluster")
            .join(F.broadcast(lutb), "cluster")
            .select("vec_id", "lb"),
            "vec_id",
        )
    )
    return (
        scored.orderBy((F.col("la") + F.col("lb")).asc(), "vec_id")
        .limit(_ADC_TOPK)
        .select(
            "vec_id",
            F.round(
                (F.col("la").cast("double") + F.col("lb").cast("double"))
                / F.lit(SCALE),
                6,
            ).alias("adc_dist"),
        )
    )


# ---------------------------------------------------------------------------
# X37: ADC shortlist + exact rerank — the full IVF-PQ query path
# ---------------------------------------------------------------------------

_ADC_SHORTLIST = 50


@register(
    "llm_pq_rerank_topk",
    oracle=f"WITH {_SQL_EX}, "
    "h AS (SELECT len(embedding) // 2 AS h FROM embeddings LIMIT 1), "
    + _sql_pq_half_sampled("a", "dim < (SELECT h FROM h)")
    + ", "
    + _sql_pq_half_sampled("b", "dim >= (SELECT h FROM h)")
    + ", luta AS (SELECT cluster, dq FROM d2a WHERE vec_id = 0), "
    "lutb AS (SELECT cluster, dq FROM d2b WHERE vec_id = 0), "
    "short AS (SELECT a.vec_id FROM a2a a "
    "JOIN a2b b ON a.vec_id = b.vec_id "
    "JOIN luta la ON a.cluster = la.cluster "
    "JOIN lutb lb ON b.cluster = lb.cluster "
    "WHERE a.vec_id <> 0 "
    f"ORDER BY la.dq + lb.dq, a.vec_id LIMIT {_ADC_SHORTLIST}), "
    "exq AS (SELECT dim, val FROM ex WHERE vec_id = 0), "
    "rr AS (SELECT x.vec_id, "
    f"SUM({sql_quant('(x.val - qq.val) * (x.val - qq.val)')}) AS dq "
    "FROM ex x JOIN short s ON x.vec_id = s.vec_id "
    "JOIN exq qq ON x.dim = qq.dim GROUP BY 1) "
    "SELECT vec_id, round(CAST(dq AS DOUBLE) / 10000.0, 6) AS dist "
    f"FROM rr ORDER BY dq, vec_id LIMIT {_ADC_TOPK}",
    doc="ADC shortlist + exact rerank (X37): the COMPLETE IVF-PQ "
    "query path — the coded ADC pass (X36) surfaces a 50-candidate "
    "shortlist at lookup-table cost, then EXACT fixed-point L2 "
    "reranks only those 50 against the raw query vector and returns "
    "the top 10. This split is the whole economics of PQ search "
    "(Jegou et al. §IV): the cheap coded scan touches every vector "
    "but reads only its 1-byte-scale codes; the expensive exact "
    "distance touches 50 raw vectors regardless of corpus size. "
    "Recall is governed by codebook arity (the 256-codeword "
    "codebooks here bound shortlist recall exactly as nprobe bounds "
    "IVF recall — measured in tests/test_wave7.py and swept across "
    "arities by tools/pq_sweep.py; at K=256 recall is ~1, recorded "
    "in SCALE.md). Codebooks train on the md5(vec_id)-keyed "
    "half-corpus (r10 verdict item 5 — the X29b sampled-training "
    "precedent: FAISS-style quantizers learn on a sample and code "
    "everything; in-key full-corpus training made this the slowest "
    "key in the sf10 suite), while the graded ADC scan and the "
    "exact rerank remain corpus-complete. Engine shape: the shortlist "
    "is a TakeOrdered over the broadcast-LUT-scored code frame (no "
    "corpus shuffle), and the rerank joins 50 vec_ids back against "
    "the embeddings scan — a broadcast semi-join — then folds exact "
    "per-dim quantized terms in-expression. Tie-broken by vec_id at "
    "both stages, engine-exact end to end.",
)
def q_llm_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    n = F.size("embedding")
    h = (n / 2).cast("int")
    sub_a = e.select(
        "vec_id", F.slice("embedding", F.lit(1), h).alias("embedding")
    )
    sub_b = e.select(
        "vec_id", F.slice("embedding", h + 1, (n - h)).alias("embedding")
    )
    tr = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4) < _PQ_TRAIN_HI
    (_ca, d2a, aa), (_cb, d2b, ab) = kmeans_refined_pair(
        sub_a, sub_b, _PQ_K,
        train_a=sub_a.filter(tr), train_b=sub_b.filter(tr),
    )
    luta = d2a.filter(F.col("vec_id") == 0).select(
        "cluster", F.col("dq").alias("la")
    )
    lutb = d2b.filter(F.col("vec_id") == 0).select(
        "cluster", F.col("dq").alias("lb")
    )
    short = (
        aa.filter(F.col("vec_id") != 0)
        .select("vec_id", "cluster")
        .join(F.broadcast(luta), "cluster")
        .select("vec_id", "la")
        .join(
            ab.select("vec_id", "cluster")
            .join(F.broadcast(lutb), "cluster")
            .select("vec_id", "lb"),
            "vec_id",
        )
        .orderBy((F.col("la") + F.col("lb")).asc(), "vec_id")
        .limit(_ADC_SHORTLIST)
        .select("vec_id")
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    term = lambda v, c: quant(  # noqa: E731
        (v.cast("double") - c.cast("double"))
        * (v.cast("double") - c.cast("double"))
    ).cast("long")
    dq = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("qv"), term),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        e.join(F.broadcast(short), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", dq.alias("dq"))
        .orderBy("dq", "vec_id")
        .limit(_ADC_TOPK)
        .select(
            "vec_id",
            F.round(F.col("dq").cast("double") / F.lit(SCALE), 6).alias(
                "dist"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X50: distributed PCA — top principal component by power iteration
# ---------------------------------------------------------------------------

_PCA_D = 64
_PCA_SS = 10_000_000.0  # 1e7 fixed point for the moment sums
_PCA_SV = 1_000_000.0  # 1e6 fixed point for matrix/vector entries
_PCA_ITERS = 8


def _pca_cte_parts() -> list:
    """Generate the DuckDB mirror of the quantized PCA pipeline.

    The ENGINE computes moments via a scan-local outer-product
    explode with map-side combine; the oracle computes the SAME
    integer terms via an exploded (vec_id, idx, x) pair self-join —
    integer sums are order-free, so any grouping of identical floor
    terms produces identical moments.  Every CTE is MATERIALIZED:
    the 8 chained mat-vec CTEs each reference their predecessor
    twice (t_k feeds both m_k and v_k), and inlined CTEs re-expand
    exponentially in the planner.  See q_llm_embedding_pca.
    """
    d, ss, sv = _PCA_D, int(_PCA_SS), int(_PCA_SV)
    parts = [
        "WITH ex AS MATERIALIZED (SELECT vec_id, u.i - 1 AS idx, "
        "CAST(embedding[u.i] AS DOUBLE) AS x FROM embeddings, "
        f"LATERAL unnest(range(1, {d + 1})) AS u(i) "
        f"WHERE len(embedding) = {d})",
        "cnt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings "
        f"WHERE len(embedding) = {d})",
        f"s AS MATERIALIZED (SELECT idx, sum(CAST(floor(x * {ss}.0 + 0.5) "
        "AS DECIMAL(25,0))) AS s FROM ex GROUP BY 1)",
        "p AS MATERIALIZED (SELECT a.idx AS i, b.idx AS j, "
        f"sum(CAST(floor(a.x * b.x * {ss}.0 + 0.5) "
        "AS DECIMAL(25,0))) AS p FROM ex a "
        "JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2)",
        "mat AS MATERIALIZED (SELECT p.i, p.j, "
        f"CAST(floor(((CAST(p.p AS DOUBLE) / {ss}.0"
        f" - (CAST(si.s AS DOUBLE) / {ss}.0)"
        f" * (CAST(sj.s AS DOUBLE) / {ss}.0)"
        " / CAST(c.n AS DOUBLE)) / CAST(c.n AS DOUBLE))"
        f" * {sv}.0 + 0.5) AS BIGINT) AS c "
        "FROM p JOIN s si ON si.idx = p.i "
        "JOIN s sj ON sj.idx = p.j, cnt c)",
        f"v0 AS MATERIALIZED (SELECT unnest(range({d})) AS j, "
        f"CAST({sv} AS DECIMAL(25,0)) AS v)",
    ]
    for k in range(1, _PCA_ITERS + 1):
        parts.append(
            f"t{k} AS MATERIALIZED (SELECT m.i AS j, "
            "sum(CAST(m.c AS DECIMAL(25,0)) * v.v) AS t "
            f"FROM mat m JOIN v{k - 1} v ON m.j = v.j GROUP BY 1)"
        )
        parts.append(f"m{k} AS MATERIALIZED (SELECT max(abs(t)) AS mx FROM t{k})")
        parts.append(
            f"v{k} AS MATERIALIZED (SELECT t{k}.j, CASE WHEN m{k}.mx = 0 "
            "THEN CAST(0 AS DECIMAL(25,0)) "
            f"ELSE CAST(floor(CAST(t{k}.t AS DOUBLE)"
            f" / CAST(m{k}.mx AS DOUBLE) * {sv}.0 + 0.5) "
            f"AS DECIMAL(25,0)) END AS v FROM t{k}, m{k})"
        )
    return parts


def _pca_oracle_final(select: str) -> str:
    parts = _pca_cte_parts()
    return ", ".join(parts) + " " + select


# Collected covariance matrices, keyed (applicationId, sf_dir): the
# distributed moment scan runs ONCE per session per corpus and every
# PCA consumer (X50 direction, X51 projection, X52 components, X53
# residuals) shares it (ADVICE r9: the projection re-ran the whole
# pipeline).  The value is the 4096-entry {(i, j): c} dict or None
# for an empty corpus — trivially small, never invalidated (driver
# corpora are immutable; a user mutating a corpus mid-session starts
# a new session or clears this).
_PCA_MOMENT_CACHE: dict[tuple[str, str], dict | None] = {}


def _pca_moments(spark: SparkSession, sf_dir: str) -> dict | None:
    """Collect the quantized covariance matrix {(i, j): int} — the
    distributed half of the PCA protocol — memoized per (session,
    corpus).  Returns None on an empty/degenerate corpus."""
    key = (spark.sparkContext.applicationId, str(sf_dir))
    if key in _PCA_MOMENT_CACHE:
        return _PCA_MOMENT_CACHE[key]
    cmat = _pca_moments_uncached(spark, sf_dir)
    _PCA_MOMENT_CACHE[key] = cmat
    return cmat


def _pca_moments_uncached(spark: SparkSession, sf_dir: str) -> dict | None:
    from ..tables import with_min_scan_parallelism

    d, ss, sv = _PCA_D, _PCA_SS, _PCA_SV
    # The embeddings file is a single row-group at test SFs; without a
    # spread the d² explode runs single-task (measured 6 s → 0.8 s).
    e = with_min_scan_parallelism(
        spark,
        load_table(spark, sf_dir, "embeddings").filter(
            F.size("embedding") == d
        ),
    )
    # --- distributed stage: moments via scan-local outer-product
    # explode + map-side combine.  Each row emits its d² quantized
    # product terms keyed by flat index i·d+j; partial aggregation
    # collapses every partition to ≤ d² rows BEFORE the one tiny
    # shuffle, so the corpus itself never shuffles (the explode is
    # pipelined, not materialized).  A fused d²-column aggregate would
    # be numerically identical but blows whole-stage codegen at d=64.
    # Second-moment kernel: Arrow-vectorized numpy outer products with
    # PER-PARTITION partial sums — each partition emits exactly d²
    # (k, partial) rows regardless of row count, so the shuffle stays
    # d²-bounded and the O(n·d²) multiply runs as one einsum per
    # batch.  The pure-JVM alternative (flatten/transform + posexplode)
    # is numerically identical (verified) but higher-order functions
    # evaluate INTERPRETED per element: at sf10 (200k vectors → 819M
    # terms) it measured 18.2 s vs ~4 s here — the one place the
    # Arrow path beats codegen because codegen never sees the loop.
    # Determinism: float32→float64 is exact, the per-term
    # floor(x·y·ss + 0.5) is the same IEEE double expression the JVM
    # and DuckDB evaluate, and int64 partial sums are order-free
    # (|term| ≤ ~ss, batch sums ≪ 2^63).
    import numpy as np
    import pandas as pd

    def _moment_partials(batches):
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(
                pdf["embedding"]
                .map(lambda a: np.asarray(a, dtype=np.float64))
                .values
            )
            t = (
                np.floor(np.einsum("ri,rj->rij", x, x) * ss + 0.5)
                .astype(np.int64)
                .sum(axis=0)
            )
            acc = t if acc is None else acc + t
        if acc is not None:
            yield pd.DataFrame(
                {
                    "k": np.arange(d * d, dtype=np.int64),
                    "t": acc.reshape(-1),
                }
            )

    P = (
        e.select("embedding")
        .mapInPandas(_moment_partials, "k long, t long")
        .groupBy("k")
        .agg(F.sum(F.col("t").cast("decimal(25,0)")).alias("p"))
    )
    sfirst = (
        e.select(F.posexplode("embedding").alias("idx", "x"))
        .select(
            "idx",
            F.floor(F.col("x").cast("double") * ss + 0.5)
            .cast("decimal(25,0)")
            .alias("t"),
        )
        .groupBy("idx")
        .agg(F.sum("t").alias("s"))
    )
    cnt = e.agg(F.count(F.lit(1)).alias("n"))
    si = sfirst.select(F.col("idx").alias("i"), F.col("s").alias("si"))
    sj = sfirst.select(F.col("idx").alias("j"), F.col("s").alias("sj"))
    c_int = F.floor(
        (
            (
                F.col("p").cast("double") / ss
                - (F.col("si").cast("double") / ss)
                * (F.col("sj").cast("double") / ss)
                / F.col("n").cast("double")
            )
            / F.col("n").cast("double")
        )
        * sv
        + 0.5
    ).cast("long")
    mat = (
        P.select(
            (F.col("k") / d).cast("long").alias("i"),
            (F.col("k") % d).alias("j"),
            "p",
        )
        .join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(cnt))
        .select("i", "j", c_int.alias("c"))
    )
    # --- O(d²) stage on the DRIVER: the corpus-independent 4096-row
    # covariance collects and the 8 renormalized power steps run in
    # exact Python integer arithmetic — the precedent is Spark's own
    # MLlib (RowMatrix.computePrincipalComponents computes the
    # Gramian distributed, then eigensolves the d×d matrix on the
    # driver).  Chaining the steps as DataFrame ops costs ~24
    # sequential 64-row stages of pure scheduling latency; nothing
    # here depends on corpus size, so the driver is the right
    # executor.  Determinism: T = C·v is exact integer arithmetic,
    # and the renormalizer floor(T/max|T|·1e6 + 0.5) divides two
    # exact integers below 2^53 — IEEE-identical to both engines'
    # double division, which the integer-replica test pins.
    cmat: dict[tuple[int, int], int] = {
        (r["i"], r["j"]): r["c"] for r in mat.collect()
    }
    if not cmat or any(v is None for v in cmat.values()):
        return None  # empty corpus: the oracle's exploded frame is empty
    return {k: int(v) for k, v in cmat.items()}


def _pca_power(cmat: dict, d: int, sv: int) -> list:
    """8 renormalized power steps over an integer matrix — exact
    Python ints; the renormalizer divides two exact integers (the
    IEEE-identical lattice protocol, see q_llm_embedding_pca)."""
    import math as _math

    vec = [int(sv)] * d
    for _ in range(_PCA_ITERS):
        t = [
            sum(cmat.get((i, j), 0) * vec[j] for j in range(d))
            for i in range(d)
        ]
        mx = max(abs(x) for x in t)
        vec = (
            [0] * d
            if mx == 0
            else [_math.floor(x / mx * sv + 0.5) for x in t]
        )
    return vec


def _round_div(a: int, b: int) -> int:
    """Round-half-up division of exact integers, b > 0 — floor((2a+b)
    / (2b)) in pure integer arithmetic; the DuckDB mirror emulates the
    floor division via the nonnegative-remainder identity (verified
    identical on negative numerators)."""
    return (2 * a + b) // (2 * b)


_PCA_SD = 1000  # deflation direction scale (coarser than _PCA_SV: the
#                 deflated matrix only needs ~1e-3 directional precision
#                 to push later iterations off the earlier component;
#                 coarse w keeps every product inside HUGEINT/DECIMAL38)
_PCA_COMPONENTS = 3


def _pca_components(spark: SparkSession, sf_dir: str, k: int) -> list:
    """Top-k principal directions by power iteration + Hotelling
    deflation, all in the exact-integer lattice protocol: after each
    component, C ← C − round_div(num·w_i·w_j, den²) where w is the
    component at scale _PCA_SD, num = wᵀCw and den = wᵀw are exact
    integers — the integer replica of C − λ·v̂v̂ᵀ.  Returns k integer
    vectors at scale _PCA_SV ([] on an empty corpus).  The moment
    scan runs once per session per corpus (_pca_moments memo)."""
    cmat = _pca_moments(spark, sf_dir)
    if cmat is None:
        return []
    d, sv, sd = _PCA_D, int(_PCA_SV), _PCA_SD
    C = dict(cmat)
    comps = []
    for comp in range(k):
        vec = _pca_power(C, d, sv)
        comps.append(vec)
        if comp == k - 1:
            break
        w = [_round_div(v, sv // sd) for v in vec]
        den = sum(x * x for x in w)
        num = sum(
            w[i] * c * w[j] for (i, j), c in C.items()
        )
        if den == 0:
            continue  # degenerate: deflate nothing (oracle mirrors)
        dd = den * den
        C = {
            (i, j): c - _round_div(num * w[i] * w[j], dd)
            for (i, j), c in C.items()
        }
    return comps


def _pca_direction(spark: SparkSession, sf_dir: str) -> list:
    """The top principal direction (integer lattice, scale _PCA_SV) —
    the k=1 case of _pca_components; empty list on an empty corpus.
    q_llm_embedding_pca, the X51 projection, and the X52/X53 family
    all consume the same memoized moments — ONE distributed scan per
    session per corpus."""
    comps = _pca_components(spark, sf_dir, 1)
    return comps[0] if comps else []


@register(
    "llm_embedding_pca",
    oracle=_pca_oracle_final(
        "SELECT j AS dim, "
        f"round(CAST(v AS DOUBLE) / {int(_PCA_SV)}.0, 6) AS pc1 "
        f"FROM v{_PCA_ITERS} ORDER BY 1"
    ),
    doc="Distributed PCA over the embedding corpus (X50): the top "
    "principal direction of the covariance matrix by power "
    "iteration — the whitening/decorrelation primitive under "
    "embedding compression (X28's scales and X35's subspace split "
    "both improve in the PCA basis) and the 1-D special case of the "
    "dimensionality reduction every large-scale ANN deployment "
    "runs before indexing.  Split of labor is the whole design: "
    "the DISTRIBUTED stage is ONE corpus scan whose d² quantized "
    "outer-product terms explode scan-locally and partial-aggregate "
    "map-side — every partition collapses to ≤ d² rows BEFORE the "
    "single tiny shuffle, so the corpus itself never shuffles and "
    "nothing wider than the d²-row moment frame crosses the wire "
    "(the fused-aggregate alternative is numerically identical but "
    "blows whole-stage codegen at d=64) — and everything after is "
    "O(d²) on the 4096-entry matrix, COLLECTED once to the driver "
    "and memoized per (session, corpus) so the 8 mat-vec steps — "
    "and every other PCA consumer in the session (X51 projection, "
    "X52 deflation, X53 residuals) — never re-run the scan "
    "(ADVICE r9).  Cross-engine exactness is an integer protocol: "
    "moments quantize 1e-7-grain at construction (exact DECIMAL "
    "sums; every double they produce is derived from exact "
    "integers in ONE arithmetic expression, so float summation "
    "order never varies), covariance entries quantize to 1e-6 "
    "longs, each power step computes T = C·v in exact integer "
    "arithmetic and renormalizes by max|T| (a ratio of exact "
    "integers), so both engines walk identical 1e-6 lattice "
    "points for all 8 iterations.  The iteration count is FIXED "
    "(the determinism-over-adaptivity trade every graded iterative "
    "op here makes — X26's k-means rounds, X22's PageRank sweeps); "
    "convergence to numpy's eigenvector is measured in tests, not "
    "assumed.  Degenerate corpora (constant embeddings → zero "
    "covariance) emit the zero vector identically on both engines.",
)
def q_llm_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    sv = _PCA_SV
    vec = _pca_direction(spark, sf_dir)
    if not vec:
        return spark.createDataFrame([], "dim long, pc1 double")
    return spark.createDataFrame(
        [(i, round(v / sv, 6)) for i, v in enumerate(vec)],
        "dim long, pc1 double",
    ).orderBy("dim")


_PCA_SX = 1_000_000.0  # 1e6 fixed point for the projection inputs
_PCA_PROJ_K = 25


@register(
    "llm_pca_projection_topk",
    oracle=_pca_oracle_final(
        f"SELECT ex.vec_id, round(CAST(sum(CAST(floor(ex.x * "
        f"{int(_PCA_SX)}.0 + 0.5) AS DECIMAL(25,0)) * v.v) AS DOUBLE) "
        f"/ {int(_PCA_SX) * int(_PCA_SV)}.0, 6) AS proj "
        f"FROM ex JOIN v{_PCA_ITERS} v ON ex.idx = v.j "
        "GROUP BY ex.vec_id "
        "ORDER BY abs(sum(CAST(floor(ex.x * "
        f"{int(_PCA_SX)}.0 + 0.5) AS DECIMAL(25,0)) * v.v)) DESC, "
        f"ex.vec_id LIMIT {_PCA_PROJ_K}"
    ),
    doc="PCA projection top-k (X51): every vector's scalar projection "
    "onto the X50 principal direction, top-25 by |projection| — the "
    "consumer that makes the learned direction useful (the vectors "
    "most aligned with the dominant axis are the redundancy the "
    "whitening step removes before quantization, and the extreme "
    "projections are the outlier probes an embedding-drift monitor "
    "watches).  COMPOSITION is the point: the direction comes from "
    "the SAME graded pipeline X50 runs (_pca_direction — distributed "
    "Arrow moment kernel, driver-side integer iteration), then one "
    "scan-local pass projects the corpus against the ≤64-int literal "
    "vector folded in-expression — no shuffle at all for the "
    "projection; the TakeOrdered heap is the only data reduction.  "
    "Exactness: x quantizes 1e-6 at construction, the dot product is "
    "exact integer arithmetic (quantized x × integer direction, "
    "DECIMAL-summed), |·| ordering compares exact integers, vec_id "
    "breaks ties.",
)
def q_llm_pca_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, sv, sx = _PCA_D, _PCA_SV, _PCA_SX
    vec = _pca_direction(spark, sf_dir)
    if not vec:
        return spark.createDataFrame([], "vec_id long, proj double")
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == d
    )
    varr = F.array(*[F.lit(int(v)).cast("long") for v in vec])
    # Long arithmetic is exact here: |term| ≤ 1.5e5·1e6 and 64 terms
    # sum to ≤ ~1e13 ≪ 2^63 — no decimal widening needed.
    term = lambda x, v: (  # noqa: E731
        F.floor(x.cast("double") * sx + 0.5).cast("long") * v
    )
    p_int = F.aggregate(
        F.zip_with(F.col("embedding"), varr, term),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    scored = e.select("vec_id", p_int.alias("p"))
    return (
        scored.orderBy(F.abs(F.col("p")).desc(), "vec_id")
        .limit(_PCA_PROJ_K)
        .select(
            "vec_id",
            F.round(F.col("p").cast("double") / (sx * sv), 6).alias(
                "proj"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X52: top-k principal components by Hotelling deflation
# ---------------------------------------------------------------------------


def _sql_rdiv(n: str, d: str) -> str:
    """DuckDB round-half-up division floor((2n+d)/(2d)) for exact
    HUGEINT operands, d > 0: DuckDB's // truncates toward zero, so
    floor is recovered by first subtracting the NONNEGATIVE remainder
    (((x % y) + y) % y) — verified identical to Python's (2n+d)//(2d)
    on negative numerators."""
    n2 = f"(2*({n}) + ({d}))"
    d2 = f"(2*({d}))"
    return (
        f"(({n2} - ((({n2}) % ({d2})) + ({d2})) % ({d2})) // ({d2}))"
    )


def _pca_multi_cte_parts(n_components: int) -> list:
    """Extend the X50 CTE chain with Hotelling deflation: comp-0 CTEs
    keep their exact X50 names (v0..v8 — the registered X50/X51
    oracles must not change), comp c ≥ 1 runs the same 8-step power
    chain on the deflated matrix matc{c} in HUGEINT arithmetic
    (products reach ~1e25, past DECIMAL width rules but comfortably
    inside int128).  Deflation mirrors _pca_components' integer
    protocol term for term."""
    d, sv, sd = _PCA_D, int(_PCA_SV), _PCA_SD
    parts = _pca_cte_parts()
    for c in range(1, n_components):
        prev_v = f"v{_PCA_ITERS}" if c == 1 else f"vc{c - 1}_{_PCA_ITERS}"
        prev_m = "mat" if c == 1 else f"matc{c - 1}"
        w = f"w{c - 1}"
        dn = f"dn{c - 1}"
        nm = f"nm{c - 1}"
        parts.append(
            f"{w} AS MATERIALIZED (SELECT j, "
            + _sql_rdiv("CAST(v AS HUGEINT)", f"CAST({sv // sd} AS HUGEINT)")
            + f" AS w FROM {prev_v})"
        )
        parts.append(
            f"{dn} AS MATERIALIZED (SELECT sum(w * w) AS den FROM {w})"
        )
        parts.append(
            f"{nm} AS MATERIALIZED (SELECT "
            "sum(wi.w * CAST(m.c AS HUGEINT) * wj.w) AS num "
            f"FROM {prev_m} m JOIN {w} wi ON wi.j = m.i "
            f"JOIN {w} wj ON wj.j = m.j)"
        )
        parts.append(
            f"matc{c} AS MATERIALIZED (SELECT m.i, m.j, "
            "CASE WHEN d.den = 0 THEN CAST(m.c AS HUGEINT) "
            "ELSE CAST(m.c AS HUGEINT) - "
            + _sql_rdiv("n.num * wi.w * wj.w", "d.den * d.den")
            + " END AS c "
            f"FROM {prev_m} m JOIN {w} wi ON wi.j = m.i "
            f"JOIN {w} wj ON wj.j = m.j, {dn} d, {nm} n)"
        )
        parts.append(
            f"vc{c}_0 AS MATERIALIZED (SELECT unnest(range({d})) AS j, "
            f"CAST({sv} AS HUGEINT) AS v)"
        )
        for k in range(1, _PCA_ITERS + 1):
            parts.append(
                f"tc{c}_{k} AS MATERIALIZED (SELECT m.i AS j, "
                "sum(m.c * v.v) AS t "
                f"FROM matc{c} m JOIN vc{c}_{k - 1} v ON m.j = v.j "
                "GROUP BY 1)"
            )
            parts.append(
                f"mc{c}_{k} AS MATERIALIZED "
                f"(SELECT max(abs(t)) AS mx FROM tc{c}_{k})"
            )
            parts.append(
                f"vc{c}_{k} AS MATERIALIZED (SELECT tc{c}_{k}.j, "
                f"CASE WHEN mc{c}_{k}.mx = 0 THEN CAST(0 AS HUGEINT) "
                f"ELSE CAST(floor(CAST(tc{c}_{k}.t AS DOUBLE)"
                f" / CAST(mc{c}_{k}.mx AS DOUBLE) * {sv}.0 + 0.5) "
                f"AS HUGEINT) END AS v FROM tc{c}_{k}, mc{c}_{k})"
            )
    return parts


def _pca_components_oracle() -> str:
    parts = _pca_multi_cte_parts(_PCA_COMPONENTS)
    legs = []
    for c in range(_PCA_COMPONENTS):
        vf = f"v{_PCA_ITERS}" if c == 0 else f"vc{c}_{_PCA_ITERS}"
        legs.append(
            f"SELECT CAST({c} AS BIGINT) AS component, "
            "CAST(j AS BIGINT) AS dim, "
            f"round(CAST(v AS DOUBLE) / {int(_PCA_SV)}.0, 6) AS val "
            f"FROM {vf}"
        )
    return (
        ", ".join(parts)
        + " "
        + " UNION ALL ".join(legs)
        + " ORDER BY 1, 2"
    )


@register(
    "llm_pca_components",
    oracle=_pca_components_oracle(),
    doc="Top-k principal components by Hotelling deflation (X52, r9 "
    "verdict item 4): subtract-and-reiterate on the SAME graded "
    "machinery as X50 — after each converged direction v, the "
    "collected covariance deflates C ← C − round_div(wᵀCw · w_iw_j, "
    "(wᵀw)²) with w the direction re-quantized at 1e-3 (the exact-"
    "integer replica of C − λv̂v̂ᵀ; the coarse scale keeps every "
    "cross-engine product inside int128 — HUGEINT on DuckDB, "
    "arbitrary-precision int on the driver), then the identical "
    "8-step renormalized power chain runs on the deflated matrix. "
    "One distributed moment scan feeds ALL k components (the "
    "session memo: the deflation loop is O(k·d²) driver integer "
    "math on the corpus-independent 4096-entry matrix, exactly "
    "where MLlib's RowMatrix puts its eigensolve).  Deflation "
    "precision is a DESIGN point, not a convergence hazard: 1e-3 "
    "directional error in w leaves ~1e-6 of the leading eigenvalue "
    "in the residual matrix — orders below the λ1/λ2 separation — "
    "and the protocol is graded on cross-engine identity, which "
    "holds exactly because both engines walk the same lattice.  "
    "Convergence to numpy's eigendecomposition is measured in "
    "tests (as for X50), not assumed.",
)
def q_llm_pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    sv = _PCA_SV
    comps = _pca_components(spark, sf_dir, _PCA_COMPONENTS)
    if not comps:
        return spark.createDataFrame(
            [], "component long, dim long, val double"
        )
    rows = [
        (c, i, round(v / sv, 6))
        for c, vec in enumerate(comps)
        for i, v in enumerate(vec)
    ]
    return spark.createDataFrame(
        rows, "component long, dim long, val double"
    ).orderBy("component", "dim")


# ---------------------------------------------------------------------------
# X53: reconstruction-residual outliers over the X52 basis
# ---------------------------------------------------------------------------

_PCA_RESID_K = 25


def _pca_residual_oracle() -> str:
    d, sv, sx = _PCA_D, int(_PCA_SV), int(_PCA_SX)
    parts = _pca_multi_cte_parts(_PCA_COMPONENTS)
    vfs = [
        f"v{_PCA_ITERS}" if c == 0 else f"vc{c}_{_PCA_ITERS}"
        for c in range(_PCA_COMPONENTS)
    ]
    q = f"CAST(floor(ex.x * {sx}.0 + 0.5) AS HUGEINT)"
    proj_cols = ", ".join(
        f"sum({q} * CAST(c{c}.v AS HUGEINT)) AS p{c}"
        for c in range(_PCA_COMPONENTS)
    )
    joins = " ".join(
        f"JOIN {vfs[c]} c{c} ON c{c}.j = ex.idx"
        for c in range(_PCA_COMPONENTS)
    )
    parts.append(
        "pr AS MATERIALIZED (SELECT ex.vec_id, "
        f"sum({q} * {q}) AS norm2, {proj_cols} "
        f"FROM ex {joins} GROUP BY ex.vec_id)"
    )
    den_cols = ", ".join(
        f"(SELECT sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) "
        f"FROM {vfs[c]}) AS d{c}"
        for c in range(_PCA_COMPONENTS)
    )
    parts.append(f"pd AS MATERIALIZED (SELECT {den_cols})")
    # p² ≥ 0 and den > 0, so truncating // IS floor on both engines.
    energy = " + ".join(
        f"(CASE WHEN pd.d{c} = 0 THEN 0 ELSE "
        f"(2 * pr.p{c} * pr.p{c} + pd.d{c}) // (2 * pd.d{c}) END)"
        for c in range(_PCA_COMPONENTS)
    )
    parts.append(
        "resid AS MATERIALIZED (SELECT pr.vec_id, "
        f"pr.norm2 - ({energy}) AS r FROM pr, pd)"
    )
    return (
        ", ".join(parts)
        + " SELECT vec_id, "
        f"round(CAST(r AS DOUBLE) / {sx}.0 / {sx}.0, 6) AS residual "
        f"FROM resid ORDER BY r DESC, vec_id LIMIT {_PCA_RESID_K}"
    )


@register(
    "llm_pca_residual_topk",
    oracle=_pca_residual_oracle(),
    doc="Reconstruction-residual outliers (X53, the X52 consumer): "
    "each vector's squared norm minus its energy along the k "
    "deflated components — the residual an embedding-drift monitor "
    "watches (a vector the learned basis cannot explain is novel "
    "content, a corrupted embedding, or distribution shift) and "
    "the quantity PCA-whitened compression (X28/X35) leaves on the "
    "floor.  Distributed shape mirrors X51: the k ≤64-int direction "
    "vectors fold into the scan as literals, one scan-local pass "
    "computes norm² and k dot products per vector in exact long "
    "arithmetic (|Σ q·v| ≤ 64·1e6·1e6 ≈ 6.4e13 ≪ 2⁶³), the "
    "per-component energies round_div(p², vᵀv) widen to "
    "DECIMAL(38,0) only in-expression (p² ≤ 4e27; p² ≥ 0 makes "
    "truncating div ≡ floor on both engines), and a TakeOrdered "
    "heap on the EXACT integer residual is the only reduction — "
    "no shuffle at all.  Deflated components are near- but not "
    "exactly orthogonal, so the residual is the protocol's "
    "definition rather than a claim of orthogonal decomposition; "
    "both engines evaluate it identically by construction.",
)
def q_llm_pca_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, sv, sx = _PCA_D, int(_PCA_SV), _PCA_SX
    comps = _pca_components(spark, sf_dir, _PCA_COMPONENTS)
    if not comps:
        return spark.createDataFrame([], "vec_id long, residual double")
    dens = [sum(v * v for v in vec) for vec in comps]
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == d
    )
    qcol = lambda x: F.floor(  # noqa: E731
        x.cast("double") * sx + 0.5
    ).cast("long")
    norm2 = F.aggregate(
        F.transform(F.col("embedding"), lambda x: qcol(x) * qcol(x)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    projs = []
    for c, vec in enumerate(comps):
        varr = F.array(*[F.lit(int(v)).cast("long") for v in vec])
        p = F.aggregate(
            F.zip_with(
                F.col("embedding"), varr, lambda x, v: qcol(x) * v
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        projs.append(p.alias(f"p{c}"))
    scored = e.select("vec_id", norm2.alias("norm2"), *projs)
    dec = "decimal(38,0)"
    energy = None
    for c, den in enumerate(dens):
        if den == 0:
            term = F.lit(0).cast(dec)
        else:
            term = F.expr(
                f"CAST((2 * CAST(p{c} AS {dec}) * CAST(p{c} AS {dec}) "
                f"+ {den}) DIV (2 * CAST({den} AS {dec})) AS {dec})"
            )
        energy = term if energy is None else energy + term
    r = scored.select(
        "vec_id",
        (F.col("norm2").cast(dec) - energy).alias("r"),
    )
    return (
        r.orderBy(F.col("r").desc(), "vec_id")
        .limit(_PCA_RESID_K)
        .select(
            "vec_id",
            F.round(F.col("r").cast("double") / (sx * sx), 6).alias(
                "residual"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X59: IVF-PQ composed — coarse probe + ADC within probed cells + rerank
# ---------------------------------------------------------------------------


@register(
    "llm_ivfpq_topk",
    oracle=f"WITH {_SQL_EX}, "
    f"seeds AS (SELECT vec_id AS cluster, dim, val AS cval FROM ex "
    f"WHERE vec_id < {_KM_K}), "
    + _sql_assign("seeds", "d1", "a1")
    + ", "
    "c1 AS (SELECT a1.cluster, ex.dim, "
    f"{sql_davg('ex.val')} AS cval "
    "FROM ex JOIN a1 ON ex.vec_id = a1.vec_id GROUP BY 1, 2), "
    + _sql_assign("c1", "d2", "a2")
    + ", "
    f"probe AS (SELECT cluster FROM d2 WHERE vec_id = 0 "
    f"ORDER BY dq, cluster LIMIT {_IVF_NPROBE}), "
    "ivfcand AS (SELECT a2.vec_id FROM a2 JOIN probe USING (cluster) "
    "WHERE a2.vec_id <> 0), "
    "h AS (SELECT len(embedding) // 2 AS h FROM embeddings LIMIT 1), "
    + _sql_pq_half("a", "dim < (SELECT h FROM h)")
    + ", "
    + _sql_pq_half("b", "dim >= (SELECT h FROM h)")
    + ", luta AS (SELECT cluster, dq FROM d2a WHERE vec_id = 0), "
    "lutb AS (SELECT cluster, dq FROM d2b WHERE vec_id = 0), "
    "short AS (SELECT a.vec_id FROM a2a a "
    "JOIN a2b b ON a.vec_id = b.vec_id "
    "JOIN ivfcand c ON a.vec_id = c.vec_id "
    "JOIN luta la ON a.cluster = la.cluster "
    "JOIN lutb lb ON b.cluster = lb.cluster "
    f"ORDER BY la.dq + lb.dq, a.vec_id LIMIT {_ADC_SHORTLIST}), "
    "exq AS (SELECT dim, val FROM ex WHERE vec_id = 0), "
    "rr AS (SELECT x.vec_id, "
    f"SUM({sql_quant('(x.val - qq.val) * (x.val - qq.val)')}) AS dq "
    "FROM ex x JOIN short s ON x.vec_id = s.vec_id "
    "JOIN exq qq ON x.dim = qq.dim GROUP BY 1) "
    "SELECT vec_id, round(CAST(dq AS DOUBLE) / 10000.0, 6) AS dist "
    f"FROM rr ORDER BY dq, vec_id LIMIT {_ADC_TOPK}",
    doc="IVF-PQ composed query path (X59): the full FAISS-style "
    "IVFADC pipeline in one graded plan — the learned coarse "
    "quantizer (X26/X27's cells) restricts the search to the "
    "query's nprobe=2 nearest inverted lists, the PQ codes "
    "(X35's 2×256 codebooks) score ONLY those candidates by "
    "LUT lookup, and exact fixed-point L2 reranks the 50-deep "
    "shortlist (X37's verify leg).  X27 pays an exact rerank of "
    "everything in the probed cells (~nprobe/k of the corpus — "
    "still millions of raw-vector reads at 100 TB); this composition "
    "caps the raw-vector reads at the SHORTLIST depth regardless of "
    "cell population, which is precisely why IVFADC is the "
    "billion-vector default (Jegou et al. §V).  Plan: cells and "
    "codes are three independent seeded-Lloyd rounds over the same "
    "scan; the IVF membership probe joins the code frame on vec_id "
    "(uniform key — at 100 TB the cell id is the vector store's "
    "partition column and this join becomes partition pruning); the "
    "shortlist is a TakeOrdered heap; only 50 raw vectors are ever "
    "read back.  Engine-exact end to end: integer distances, "
    "deterministic vec_id tiebreaks at every ordered stage.",
)
def q_llm_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # Coarse quantizer (one Lloyd round at k=8) and the two PQ
    # subspace codebooks are three INDEPENDENT seeded-Lloyd rounds —
    # run concurrently (r16, guide §2.6) instead of serially.
    n = F.size("embedding")
    h = (n / 2).cast("int")
    sub_a = e.select(
        "vec_id", F.slice("embedding", F.lit(1), h).alias("embedding")
    )
    sub_b = e.select(
        "vec_id", F.slice("embedding", h + 1, (n - h)).alias("embedding")
    )
    (
        (_cc, d2, a2),
        (_ca, d2a, aa),
        (_cb, d2b, ab),
    ) = kmeans_refined_many(
        [(e, _KM_K, None), (sub_a, _PQ_K, None), (sub_b, _PQ_K, None)]
    )
    # Probe the query's 2 nearest cells, membership from the final
    # assignment.
    probe = (
        d2.filter(F.col("vec_id") == 0)
        .orderBy("dq", "cluster")
        .limit(_IVF_NPROBE)
        .select("cluster")
    )
    ivfcand = (
        a2.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe), "cluster")
        .select("vec_id")
    )
    luta = d2a.filter(F.col("vec_id") == 0).select(
        "cluster", F.col("dq").alias("la")
    )
    lutb = d2b.filter(F.col("vec_id") == 0).select(
        "cluster", F.col("dq").alias("lb")
    )
    short = (
        aa.filter(F.col("vec_id") != 0)
        .select("vec_id", "cluster")
        .join(F.broadcast(luta), "cluster")
        .select("vec_id", "la")
        .join(
            ab.select("vec_id", "cluster")
            .join(F.broadcast(lutb), "cluster")
            .select("vec_id", "lb"),
            "vec_id",
        )
        .join(ivfcand, "vec_id")
        .orderBy((F.col("la") + F.col("lb")).asc(), "vec_id")
        .limit(_ADC_SHORTLIST)
        .select("vec_id")
    )
    # Exact rerank of the shortlist against the raw query vector.
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    term = lambda v, c: quant(  # noqa: E731
        (v.cast("double") - c.cast("double"))
        * (v.cast("double") - c.cast("double"))
    ).cast("long")
    dq = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("qv"), term),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        e.join(F.broadcast(short), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", dq.alias("dq"))
        .orderBy("dq", "vec_id")
        .limit(_ADC_TOPK)
        .select(
            "vec_id",
            F.round(F.col("dq").cast("double") / F.lit(SCALE), 6).alias(
                "dist"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X60: persisted IVF-PQ index — build once, probe by partition pruning
# ---------------------------------------------------------------------------


def _ann_index_tag(sf_dir: str) -> str:
    """Metastore tag for the persisted ANN index: embeddings-source
    fingerprint + PID (the X12 _index_tag discipline — a regenerated
    source changes the tag so a stale index is never found; the PID
    keeps concurrent sessions off each other's metastore names)."""
    import hashlib
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(p)
    fp = hashlib.md5(
        f"{p}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:8]
    return f"{fp}_{os.getpid()}"


def ivfpq_index_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Day-1 pay-once build of the persisted IVF-PQ index: the codes
    table (vec_id, ca, cb) PARTITIONED BY the coarse cell — at 100 TB
    the cell id is the vector store's layout and a probe reads
    nprobe/k of the FILES — plus the slim codebook table (coarse +
    two PQ subspace centroid arrays, 8 + 2×256 rows) a query session
    needs to rebuild its LUTs without retraining.  The corpus is
    scanned only here; every later query touches the codes partitions
    it probes, the ≤520-row codebooks, and the shortlist's 50 raw
    vectors."""
    from ..scratch import scratch_dir

    tag = _ann_index_tag(sf_dir)
    codes = f"ecs_ivfpq_codes_{tag}"
    cents = f"ecs_ivfpq_cents_{tag}"
    if spark.catalog.tableExists(codes) and spark.catalog.tableExists(cents):
        return codes, cents
    e = load_table(spark, sf_dir, "embeddings")
    n = F.size("embedding")
    h = (n / 2).cast("int")
    sub_a = e.select(
        "vec_id", F.slice("embedding", F.lit(1), h).alias("embedding")
    )
    sub_b = e.select(
        "vec_id", F.slice("embedding", h + 1, (n - h)).alias("embedding")
    )
    # Coarse + two PQ codebooks trained concurrently (r16, guide §2.6).
    (
        (ccent, _cd2, ca2),
        (acent, _d2a, aa),
        (bcent, _d2b, ab),
    ) = kmeans_refined_many(
        [(e, _KM_K, None), (sub_a, _PQ_K, None), (sub_b, _PQ_K, None)]
    )
    codes_df = (
        ca2.select("vec_id", F.col("cluster").alias("cell"))
        .join(aa.select("vec_id", F.col("cluster").alias("ca")), "vec_id")
        .join(ab.select("vec_id", F.col("cluster").alias("cb")), "vec_id")
    )
    spark.sql(f"DROP TABLE IF EXISTS {codes}")
    (
        codes_df.repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .option("path", scratch_dir("ecs_ivfpq_codes", tag))
        .saveAsTable(codes)
    )
    cents_df = (
        ccent.select(F.lit("coarse").alias("kind"), "cluster", "carr")
        .unionAll(acent.select(F.lit("pqa").alias("kind"), "cluster", "carr"))
        .unionAll(bcent.select(F.lit("pqb").alias("kind"), "cluster", "carr"))
    )
    spark.sql(f"DROP TABLE IF EXISTS {cents}")
    (
        cents_df.write.mode("overwrite")
        .option("path", scratch_dir("ecs_ivfpq_cents", tag))
        .saveAsTable(cents)
    )
    return codes, cents


# The persisted probe grades against X59's oracle VERBATIM: the index
# is a materialization detail, so a persistence bug (wrong partition,
# lossy codebook round-trip) breaks the hash.  X59 registers earlier
# in this module, so its oracle is available here.
from ..registry import QUERIES as _QUERIES  # noqa: E402

_IVFPQ_SHARED_ORACLE = _QUERIES["llm_ivfpq_topk"].oracle


@register(
    "llm_ivfpq_indexed",
    oracle=_IVFPQ_SHARED_ORACLE,
    doc="Persisted IVF-PQ index probe (X60): X59's query path against "
    "a BUILT-ONCE index instead of retraining per query — the X12 "
    "incremental-dedup-index pattern applied to ANN, and the actual "
    "production deployment shape (FAISS builds the index offline; "
    "queries touch the inverted lists they probe).  Build: one corpus "
    "scan learns the coarse cells and both PQ codebooks, writes the "
    "code table PARTITIONED BY cell (at 100 TB the cell IS the "
    "store's partition column) plus a ≤520-row codebook table.  "
    "Query: the query vector is ONE pruned row; its coarse distances "
    "and both 256-entry LUTs recompute from the stored centroid "
    "arrays (doubles round-trip parquet exactly, so every fixed-point "
    "distance equals the training-time value); the nprobe=2 cell ids "
    "(two ints, the one driver-side collect) become a STATIC "
    "partition filter on the codes table — the scan reads nprobe/k "
    "of the files, visible as PartitionFilters in the plan; ADC "
    "scores the surviving codes by broadcast LUT joins; exact "
    "fixed-point L2 reranks the 50-deep shortlist.  Results are "
    "bit-identical to llm_ivfpq_topk (same Lloyd math, same "
    "tiebreaks) — graded against the SAME oracle, so the "
    "persistence layer itself is under the hash.",
    builds_store=True,
)
def q_llm_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes_t, cents_t = ivfpq_index_tables(spark, sf_dir)
    return _ivfpq_probe(spark, sf_dir, codes_t, cents_t)


def _ivfpq_probe(
    spark: SparkSession, sf_dir: str, codes_t: str, cents_t: str
) -> DataFrame:
    """The query half of the persisted-index family (X60/X61): LUTs
    from the stored codebooks, static cell partition filter, ADC over
    the probed partitions, exact rerank of the shortlist."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("vec_id", "embedding")
    n = F.size("embedding")
    h = (n / 2).cast("int")
    qa = q.select(
        "vec_id", F.slice("embedding", F.lit(1), h).alias("embedding")
    )
    qb = q.select(
        "vec_id", F.slice("embedding", h + 1, (n - h)).alias("embedding")
    )
    cf = spark.table(cents_t)
    coarse = cf.filter(F.col("kind") == "coarse").select("cluster", "carr")
    cells = [
        r["cluster"]
        for r in _distances(q, coarse)
        .orderBy("dq", "cluster")
        .limit(_IVF_NPROBE)
        .collect()
    ]
    luta = _distances(
        qa, cf.filter(F.col("kind") == "pqa").select("cluster", "carr")
    ).select(F.col("cluster").alias("ca"), F.col("dq").alias("la"))
    lutb = _distances(
        qb, cf.filter(F.col("kind") == "pqb").select("cluster", "carr")
    ).select(F.col("cluster").alias("cb"), F.col("dq").alias("lb"))
    cand = (
        spark.table(codes_t)
        .filter(F.col("cell").isin(cells))
        .filter(F.col("vec_id") != 0)
    )
    short = (
        cand.join(F.broadcast(luta), "ca")
        .join(F.broadcast(lutb), "cb")
        .orderBy((F.col("la") + F.col("lb")).asc(), "vec_id")
        .limit(_ADC_SHORTLIST)
        .select("vec_id")
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    term = lambda v, c: quant(  # noqa: E731
        (v.cast("double") - c.cast("double"))
        * (v.cast("double") - c.cast("double"))
    ).cast("long")
    dq = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("qv"), term),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        e.join(F.broadcast(short), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", dq.alias("dq"))
        .orderBy("dq", "vec_id")
        .limit(_ADC_TOPK)
        .select(
            "vec_id",
            F.round(F.col("dq").cast("double") / F.lit(SCALE), 6).alias(
                "dist"
            ),
        )
    )

# ---------------------------------------------------------------------------
# X61: ANN index maintenance — batch coded against STORED codebooks
# ---------------------------------------------------------------------------

_ANN_BASE_PRED = "vec_id % 10 != 9"
_ANN_BATCH_PRED = "vec_id % 10 = 9"


def _sql_ta(tag: str, dimpred: str, k: int) -> str:
    """Train-on-base / assign-on-all CTE chain for one (sub)space:
    seeds and the Lloyd update see only the base slice; the final
    assignment covers EVERY vector with the base-trained centroids —
    exactly what coding an arriving batch against stored codebooks
    computes."""
    return (
        f"exq{tag} AS (SELECT * FROM ex WHERE {dimpred}), "
        f"exqb{tag} AS (SELECT * FROM exq{tag} WHERE {_ANN_BASE_PRED}), "
        f"seeds{tag} AS (SELECT vec_id AS cluster, dim, val AS cval "
        f"FROM exqb{tag} WHERE vec_id < {k}), "
        + _sql_pq_assign(f"exqb{tag}", f"seeds{tag}", f"d1{tag}", f"a1{tag}")
        + f", c1{tag} AS (SELECT a.cluster, x.dim, {sql_davg('x.val')} "
        f"AS cval FROM exqb{tag} x JOIN a1{tag} a ON x.vec_id = a.vec_id "
        "GROUP BY 1, 2), "
        + _sql_pq_assign(f"exq{tag}", f"c1{tag}", f"d2{tag}", f"a2{tag}")
    )


def ivfpq_refreshed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Day-2 state of the X60 index: the base build (vectors outside
    the arriving batch) plus the batch's rows coded against the
    STORED codebooks — read back from the cents table, never
    retrained — and appended into their cells (partition-aligned
    insertInto).  Maintenance cost is O(batch): the batch scan's
    predicate pushes to the embeddings read, the codebooks are ≤520
    broadcast rows, and the append moves only the batch's slim code
    rows into existing partitions."""
    from ..scratch import scratch_dir

    tag = _ann_index_tag(sf_dir)
    codes = f"ecs_ivfpq_codes_r_{tag}"
    cents = f"ecs_ivfpq_cents_r_{tag}"
    if spark.catalog.tableExists(codes) and spark.catalog.tableExists(cents):
        return codes, cents
    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.expr(_ANN_BASE_PRED))
    ccent, _cd2, ca2 = kmeans_refined_full(base, _KM_K)
    n = F.size("embedding")
    h = (n / 2).cast("int")

    def half_a(df):
        return df.select(
            "vec_id", F.slice("embedding", F.lit(1), h).alias("embedding")
        )

    def half_b(df):
        return df.select(
            "vec_id", F.slice("embedding", h + 1, (n - h)).alias("embedding")
        )

    (acent, _d2a, aa), (bcent, _d2b, ab) = kmeans_refined_pair(
        half_a(base), half_b(base), _PQ_K
    )
    base_codes = (
        ca2.select("vec_id", F.col("cluster").alias("cell"))
        .join(aa.select("vec_id", F.col("cluster").alias("ca")), "vec_id")
        .join(ab.select("vec_id", F.col("cluster").alias("cb")), "vec_id")
    )
    spark.sql(f"DROP TABLE IF EXISTS {codes}")
    (
        base_codes.repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .option("path", scratch_dir("ecs_ivfpq_codes_r", tag))
        .saveAsTable(codes)
    )
    cents_df = (
        ccent.select(F.lit("coarse").alias("kind"), "cluster", "carr")
        .unionAll(acent.select(F.lit("pqa").alias("kind"), "cluster", "carr"))
        .unionAll(bcent.select(F.lit("pqb").alias("kind"), "cluster", "carr"))
    )
    spark.sql(f"DROP TABLE IF EXISTS {cents}")
    (
        cents_df.write.mode("overwrite")
        .option("path", scratch_dir("ecs_ivfpq_cents_r", tag))
        .saveAsTable(cents)
    )
    # Day-2 append: code the batch against the codebooks READ BACK
    # from the cents table (the persisted path, not the in-memory
    # frames — a lossy round-trip would surface here and break the
    # oracle hash).
    cf = spark.table(cents)
    batch = e.filter(F.expr(_ANN_BATCH_PRED))
    bcell = _assign(
        batch, cf.filter(F.col("kind") == "coarse").select("cluster", "carr")
    ).select("vec_id", F.col("cluster").alias("cell"))
    bca = _assign(
        half_a(batch),
        cf.filter(F.col("kind") == "pqa").select("cluster", "carr"),
    ).select("vec_id", F.col("cluster").alias("ca"))
    bcb = _assign(
        half_b(batch),
        cf.filter(F.col("kind") == "pqb").select("cluster", "carr"),
    ).select("vec_id", F.col("cluster").alias("cb"))
    batch_codes = bcell.join(bca, "vec_id").join(bcb, "vec_id")
    cols = spark.table(codes).columns  # data cols first, partition last
    batch_codes.select(*cols).write.mode("append").insertInto(codes)
    return codes, cents


@register(
    "llm_ivfpq_index_append",
    oracle=f"WITH {_SQL_EX}, "
    "h AS (SELECT len(embedding) // 2 AS h FROM embeddings LIMIT 1), "
    + _sql_ta("c", "TRUE", _KM_K)
    + ", "
    + _sql_ta("a", "dim < (SELECT h FROM h)", _PQ_K)
    + ", "
    + _sql_ta("b", "dim >= (SELECT h FROM h)", _PQ_K)
    + ", "
    "probe AS (SELECT cluster FROM d2c WHERE vec_id = 0 "
    f"ORDER BY dq, cluster LIMIT {_IVF_NPROBE}), "
    "ivfcand AS (SELECT a2c.vec_id FROM a2c JOIN probe USING (cluster) "
    "WHERE a2c.vec_id <> 0), "
    "luta AS (SELECT cluster, dq FROM d2a WHERE vec_id = 0), "
    "lutb AS (SELECT cluster, dq FROM d2b WHERE vec_id = 0), "
    "short AS (SELECT a.vec_id FROM a2a a "
    "JOIN a2b b ON a.vec_id = b.vec_id "
    "JOIN ivfcand c ON a.vec_id = c.vec_id "
    "JOIN luta la ON a.cluster = la.cluster "
    "JOIN lutb lb ON b.cluster = lb.cluster "
    f"ORDER BY la.dq + lb.dq, a.vec_id LIMIT {_ADC_SHORTLIST}), "
    "exq AS (SELECT dim, val FROM ex WHERE vec_id = 0), "
    "rr AS (SELECT x.vec_id, "
    f"SUM({sql_quant('(x.val - qq.val) * (x.val - qq.val)')}) AS dq "
    "FROM ex x JOIN short s ON x.vec_id = s.vec_id "
    "JOIN exq qq ON x.dim = qq.dim GROUP BY 1) "
    "SELECT vec_id, round(CAST(dq AS DOUBLE) / 10000.0, 6) AS dist "
    f"FROM rr ORDER BY dq, vec_id LIMIT {_ADC_TOPK}",
    doc="ANN index maintenance + probe (X61, the X12c refresh pattern "
    "applied to X60): the index is built on the BASE corpus (vectors "
    "outside the arriving batch), the batch's vectors are coded "
    "against the STORED codebooks — read back from the cents table, "
    "zero retraining, O(batch) work with the batch predicate pushed "
    "to the embeddings scan — and appended into their coarse-cell "
    "partitions; the graded result is the standard probe over the "
    "REFRESHED table, so an appended vector that lands in a probed "
    "cell must surface in the top-k exactly as if it had been "
    "indexed on day 1.  The oracle replays the same "
    "train-on-base/assign-on-all math (batch coding against "
    "base-trained centroids IS assignment with frozen codebooks), so "
    "the hash covers the codebook round-trip, the cell routing, the "
    "partition append, and the probe.  At 100 TB this is the vector "
    "store's ingest path: per-batch cost is the batch's own coding + "
    "a partition-aligned append — the corpus is never rescanned.",
    builds_store=True,
)
def q_llm_ivfpq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes_t, cents_t = ivfpq_refreshed_tables(spark, sf_dir)
    return _ivfpq_probe(spark, sf_dir, codes_t, cents_t)


# ---------------------------------------------------------------------------
# X63: drift-triggered ANN retrain decision — the index lifecycle gate
# ---------------------------------------------------------------------------

# Rebuild a cell when its arrival load or its centroid drift crosses
# threshold.  Ratio rule: n_new·9 ≥ n_base (arrivals ≥ 1/9 of base —
# the X61 batch is 10% of the corpus, so per-cell binomial variation
# puts cells on BOTH sides at every SF).  Drift rule: ‖mean_now −
# codebook_centroid‖² ≥ 0.006 in the fixed-point lattice (driftq ≥
# 60) — sized to the corpus's unit-scale embeddings so it fires
# independently of the ratio rule on the small corpora (a ~1% per-dim
# mean shift over 64 dims).  Both thresholds are deployment knobs;
# what the oracle grades is the metric arithmetic and the gate.
_RETRAIN_RATIO = 9
_RETRAIN_DRIFTQ = 60


@register(
    "llm_ann_retrain_decision",
    oracle=f"WITH {_SQL_EX}, " + _sql_ta("c", "TRUE", _KM_K) + ", "
    "cnt AS (SELECT cluster, "
    "CAST(sum(CASE WHEN vec_id % 10 = 9 THEN 0 ELSE 1 END) AS BIGINT) "
    "AS n_base, "
    "CAST(sum(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_new FROM a2c GROUP BY 1), "
    f"ma AS (SELECT a.cluster, x.dim, {sql_davg('x.val')} AS mval "
    "FROM ex x JOIN a2c a ON x.vec_id = a.vec_id GROUP BY 1, 2), "
    "dr AS (SELECT m.cluster, "
    f"CAST(SUM({sql_quant('(m.mval - c.cval) * (m.mval - c.cval)')}) "
    "AS BIGINT) AS driftq "
    "FROM ma m JOIN c1c c ON m.cluster = c.cluster AND m.dim = c.dim "
    "GROUP BY 1) "
    "SELECT cnt.cluster AS cell, cnt.n_base, cnt.n_new, "
    "round(CAST(dr.driftq AS DOUBLE) / 10000.0, 6) AS drift, "
    f"(cnt.n_new * {_RETRAIN_RATIO} >= cnt.n_base OR "
    f"dr.driftq >= {_RETRAIN_DRIFTQ}) AS rebuild "
    "FROM cnt JOIN dr ON cnt.cluster = dr.cluster ORDER BY 1",
    doc="Drift-triggered ANN retrain decision (X63 — SURVEY's "
    "documented lifecycle gap: X61 appends without re-balancing).  "
    "Per coarse cell of the base-trained quantizer (train-on-base / "
    "assign-on-all, the X60/X61 convention: vec_id%10=9 is the "
    "arriving batch), report base/arrival membership, the drift "
    "between the STORED codebook centroid and the cell's current "
    "member mean (fixed-point ‖Δ‖² over the davg-stable per-dim "
    "means — engine-exact), and the rebuild verdict: arrivals ≥ 1/9 "
    "of base OR drift ≥ 0.006.  This is the decision a production "
    "index maintenance job runs after every append wave — rebuild "
    "ONLY the cells the new data actually moved, never the whole "
    "index; cells below both thresholds keep their codebooks and "
    "their partitions untouched.  Both branches carry oracle "
    "evidence: per-cell binomial variation in the 10% batch puts "
    "cells on both sides of the ratio gate at every SF, and the "
    "drift gate fires independently on the small corpora.  Scale: "
    "one vectorized assignment pass (scan-local _assign), one "
    "exploded (cluster, dim) mean collapse — k·d rows out — and "
    "everything after lives on k-row frames.",
)
def q_llm_ann_retrain_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.expr(_ANN_BASE_PRED))
    cent2, _d2, a2 = kmeans_refined_full(e, _KM_K, train=base)
    is_new = F.expr(_ANN_BATCH_PRED)
    cnt = a2.groupBy("cluster").agg(
        F.sum(F.when(is_new, 0).otherwise(1)).cast("long").alias("n_base"),
        F.sum(F.when(is_new, 1).otherwise(0)).cast("long").alias("n_new"),
    )
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fval")
    ).select("vec_id", "dim", F.col("fval").cast("double").alias("val"))
    ma = (
        ex.join(a2.select("vec_id", "cluster"), "vec_id")
        .groupBy("cluster", "dim")
        .agg(davg("val").alias("mval"))
    )
    stored = cent2.select(
        "cluster", F.posexplode("carr").alias("dim", "cval")
    )
    dr = (
        ma.join(stored, ["cluster", "dim"])
        .groupBy("cluster")
        .agg(
            F.sum(
                quant(
                    (F.col("mval") - F.col("cval"))
                    * (F.col("mval") - F.col("cval"))
                ).cast("long")
            )
            .cast("long")
            .alias("driftq")
        )
    )
    return (
        cnt.join(dr, "cluster")
        .select(
            F.col("cluster").alias("cell"),
            "n_base",
            "n_new",
            F.round(F.col("driftq").cast("double") / F.lit(SCALE), 6).alias(
                "drift"
            ),
            (
                (F.col("n_new") * _RETRAIN_RATIO >= F.col("n_base"))
                | (F.col("driftq") >= _RETRAIN_DRIFTQ)
            ).alias("rebuild"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# X67: IVF recall audit against the exact baseline (r12)
# ---------------------------------------------------------------------------

_SQL_SCORED_X = (
    "scored_x AS (SELECT e.vec_id, "
    "list_reduce(list_transform(generate_series(1, len(e.embedding)), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), "
    "(x, y) -> x + y) AS dot, "
    "sqrt(list_reduce(list_transform(e.embedding, "
    "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y)) "
    "AS nrm, "
    "sqrt(list_reduce(list_transform(q.qv, "
    "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y)) "
    "AS qnrm "
    "FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> 0)"
)


@register(
    "llm_ann_recall",
    oracle=f"WITH {_SQL_EX}, "
    f"seeds AS (SELECT vec_id AS cluster, dim, val AS cval FROM ex "
    f"WHERE vec_id < {_KM_K}), "
    + _sql_assign("seeds", "d1", "a1")
    + ", "
    "c1 AS (SELECT a1.cluster, ex.dim, "
    f"{sql_davg('ex.val')} AS cval "
    "FROM ex JOIN a1 ON ex.vec_id = a1.vec_id GROUP BY 1, 2), "
    + _sql_assign("c1", "d2", "a2")
    + ", "
    f"probe AS (SELECT cluster FROM d2 WHERE vec_id = 0 "
    f"ORDER BY dq, cluster LIMIT {_IVF_NPROBE}), "
    "cand AS (SELECT a2.vec_id FROM a2 JOIN probe USING (cluster) "
    "WHERE a2.vec_id <> 0), "
    "qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
    + _SQL_COS
    + ", "
    f"ivf AS (SELECT vec_id FROM scored "
    f"ORDER BY dot / (nrm * qnrm) DESC, vec_id LIMIT {_IVF_TOPK}), "
    + _SQL_SCORED_X
    + ", "
    f"ex_top AS (SELECT vec_id FROM scored_x "
    f"ORDER BY dot / (nrm * qnrm) DESC, vec_id LIMIT {_IVF_TOPK}), "
    "ov AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap "
    "FROM ex_top JOIN ivf USING (vec_id)) "
    f"SELECT CAST({_IVF_TOPK} AS BIGINT) AS k, n_overlap, "
    f"round(CAST(n_overlap AS DOUBLE) / {_IVF_TOPK}, 6) AS recall "
    "FROM ov",
    doc="IVF recall audit (X67, r12): recall@k of the learned-"
    "centroid IVF probe (X27, nprobe=2) against the exact brute-"
    "force top-k (X3) for the same query — the ONE number that "
    "justifies an ANN configuration, measured instead of asserted "
    "(X27's docstring has always said 'the exact baseline measures "
    "recall'; this key makes that measurement a graded, regression-"
    "guarded output, the same promotion X58 gave the minhash "
    "estimator's error and X69 gave the banding selectivity).  "
    "Composition: both inputs are THE registered operators' own "
    "pipelines (the llm_langid_confusion stance — the audit can "
    "never drift from the operators it audits); overlap is a top-k "
    "set intersection with vec_id tiebreaks on both sides, so the "
    "result is deterministic cross-engine.  Scale: the audit costs "
    "one exact scan (the baseline being audited) + the probe; run "
    "it on a SAMPLED query set at 100 TB — per query it is "
    "corpus-linear only in the exact leg, which is the point of "
    "measuring before trusting the index.",
)
def q_llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm import q_llm_similarity_topk

    ivf = q_llm_similarity_ivf_kmeans(spark, sf_dir).select("vec_id")
    # X3 returns the exact top-20; its plan is a TakeOrdered, and the
    # composed limit takes the first _IVF_TOPK of that sorted result.
    exact = (
        q_llm_similarity_topk(spark, sf_dir)
        .limit(_IVF_TOPK)
        .select("vec_id")
    )
    ov = exact.join(ivf, "vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    return ov.select(
        F.lit(_IVF_TOPK).cast("long").alias("k"),
        "n_overlap",
        F.round(
            F.col("n_overlap").cast("double") / F.lit(_IVF_TOPK), 6
        ).alias("recall"),
    )
