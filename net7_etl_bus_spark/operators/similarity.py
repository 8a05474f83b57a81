"""Embedding similarity search (SURVEY.md §2.3 / BASELINE.json north
star: ANN over an ``array<float>`` column).

``sim_search_topk`` is the exactness baseline (brute-force cosine,
broadcast queries); ``sim_search_lsh`` is the scale path (random
hyperplane signatures -> bucket-restricted search);
``emb_dedup_cosine`` applies the same kernel to near-duplicate removal.

Numeric determinism: all dot products are computed by a sequential
``aggregate`` fold over index order in double precision — both Spark
and DuckDB evaluate the identical operation sequence, so cosine values
are bit-identical and oracle-hashable (no rounding fudge needed).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..data import load_table, scan_parallel
from ..plans.registry import ddouble, register, sql_ddouble

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10


def _cosine(a, b):
    """cos(a,b) as a Column; sequential fold in index order.

    ``zip_with`` products are computed per-index in double, then
    ``aggregate`` folds left-to-right from 0.0 — the exact same
    sequence DuckDB's list_dot_product-equivalent oracle (expressed
    with the same fold) performs.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return dot / (na * nb)


def _vnorm(a):
    """sqrt(sum(a_i^2)) as a Column — _cosine's norm subexpression,
    exposed so pair-scoring sites can HOIST it to the per-vector side
    (n + m norm folds instead of 2*n*m; OPTIMIZATION_r13). The fold is
    character-identical to _cosine's na/nb, so dot/(_vnorm(a) *
    _vnorm(b)) produces bit-identical doubles to _cosine(a, b)."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _vdot(a, b):
    """_cosine's dot-product subexpression (same zip_with + left
    fold), for sites that pair it with hoisted _vnorm columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# DuckDB twin: list_transform + a left fold via list_reduce (sequential).
# Iterates greatest(len(a), len(b)) — indexing past the shorter list
# yields NULL, so a ragged pair folds to a NULL dot product, the SAME
# rule as Spark's zip_with (which null-pads the shorter array). With
# len(a) only, a candidate LONGER than the query would score non-NULL
# here while Spark returns NULL — a latent cross-engine divergence.
def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, greatest(len({a}), len({b}))), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v))"
    )


_SQL_COS = (
    _sql_dot("q.embedding", "c.embedding")
    + " / ("
    + _sql_norm("q.embedding")
    + " * "
    + _sql_norm("c.embedding")
    + ")"
)

_TOPK_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {_SQL_COS} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    AND q.embedding IS NOT NULL AND c.embedding IS NOT NULL
)
SELECT query_id, neighbor_id, neighbor_label, cosine, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored) t
WHERE rk <= {TOP_K}
"""


@register("sim_search_topk", oracle=_TOPK_ORACLE)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a small query set.

    Scale shape: queries broadcast (they are few); the corpus is
    scanned once, fully parallel, with per-partition top-k pushed below
    the shuffle by WindowGroupLimit. Cost is O(|corpus| x |queries|) —
    the right baseline, and often the right *answer* when queries are
    a broadcastable batch. For query sets too big to broadcast, see
    sim_search_lsh.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()  # null vectors are not searchable
    )
    # Norms are HOISTED out of the per-pair expression (r13): the old
    # _cosine(q_emb, c_emb) recomputed sqrt(sum(q²)) once per
    # CANDIDATE and sqrt(sum(c²)) once per QUERY — |Q| x |corpus|
    # norm folds where |Q| + |corpus| suffice. Each norm is the
    # identical expression over the identical vector, just evaluated
    # at a different plan position, and the final dot/(qn*cn) division
    # consumes the same doubles — bit-identical output (oracle
    # unchanged). The candidate side is also scan_parallel'd: the
    # whole O(|corpus| x |Q|) dot-product work sat in the one-task
    # scan stage (single-row-group input; A/B +20% at sf0.1). The
    # broadcast query side deliberately reads the raw scan — a
    # repartition there would shuffle before broadcasting 8 rows.
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double") * v.cast("double"),
            )
        ).alias("q_norm"),
    )
    c = scan_parallel(e, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double") * v.cast("double"),
            )
        ).alias("c_norm"),
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "c_emb", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot / (F.col("q_norm") * F.col("c_norm")))
        .select("query_id", "neighbor_id", "neighbor_label", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rk") <= TOP_K
    )


def _hyperplanes(n_planes: int = 16, dim: int = 64) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed) for sign-LSH."""
    rng = random.Random(20240813)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


N_TABLES = 4
BITS_PER_TABLE = 4


def _lsh_signatures(emb):
    """Array of N_TABLES bucket ids for one embedding — the shared
    sign-LSH kernel (hyperplane dots -> sign bits -> per-table bucket
    fold), a pure narrow map over the embedding column."""
    planes = _hyperplanes(N_TABLES * BITS_PER_TABLE)
    # ONE py4j call for the 16x64 plane literal (OPTIMIZATION_r13):
    # the nested F.array(*[F.lit(x) ...]) construction made ~1040
    # driver round trips per INVOCATION of this kernel — ~13 s of pure
    # py4j latency before any job ran (same finding as the bloom
    # bitmap literal in relational.py; guide §5, driver-side work).
    # repr(x) is Python's shortest exact round-trip and Spark's SQL
    # parser reads the D-suffixed literal to the identical double, so
    # the expression tree (a nested array literal) is unchanged — the
    # oracle CTE embeds the same repr() values.
    planes_lit = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in p) + ")" for p in planes
        ) + ")"
    )
    dots = F.transform(
        planes_lit,
        lambda p: F.aggregate(
            F.zip_with(p, emb, lambda x, y: x * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    bits = F.transform(dots, lambda d: F.when(d >= 0, 1).otherwise(0))
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_TABLES - 1)),
        lambda t: F.aggregate(
            F.slice(bits, t * BITS_PER_TABLE + 1, BITS_PER_TABLE),
            F.lit(0),
            lambda acc, b: acc * 2 + b,
        ),
    )


def _lsh_sigs_cte() -> str:
    """Shared oracle CTE prefix: the fixed-seed hyperplanes embedded as
    list literals (repr() of a Python float round-trips to the
    identical double), dot products with the same left fold as the
    Spark side, sign bits folded into per-table buckets — so signs,
    buckets, and candidates match the engine exactly."""
    planes = _hyperplanes(N_TABLES * BITS_PER_TABLE)
    values = ",\n    ".join(
        f"({pid}, list_value({', '.join(repr(x) for x in p)}))"
        for pid, p in enumerate(planes)
    )
    return f"""
    planes AS (
      SELECT * FROM (VALUES
    {values}
      ) AS t(pid, p)
    ),
    dots AS (
      SELECT e.vec_id, pl.pid,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(e.embedding)),
                 i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i])),
               (acc, v) -> acc + v) AS d
      FROM embeddings e CROSS JOIN planes pl
      WHERE e.embedding IS NOT NULL
    ),
    sigs AS (
      SELECT vec_id, pid // {BITS_PER_TABLE} AS table_id,
             SUM((CASE WHEN d >= 0 THEN 1 ELSE 0 END)
                 * (CASE pid % {BITS_PER_TABLE} WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END))
               AS bucket
      FROM dots GROUP BY vec_id, pid // {BITS_PER_TABLE}
    )"""


def _lsh_oracle() -> str:
    return f"""
    WITH {_lsh_sigs_cte()},
    q AS (
      SELECT s.vec_id AS query_id, e.embedding AS q_emb, s.table_id, s.bucket
      FROM sigs s JOIN embeddings e ON e.vec_id = s.vec_id
      WHERE s.vec_id < {N_QUERIES}
    ),
    c AS (
      SELECT s.vec_id AS neighbor_id, e.label AS neighbor_label,
             e.embedding AS c_emb, s.table_id, s.bucket
      FROM sigs s JOIN embeddings e ON e.vec_id = s.vec_id
    ),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id, neighbor_label, q_emb, c_emb
      FROM c JOIN q USING (table_id, bucket)
      WHERE query_id <> neighbor_id
    ),
    scored AS (
      SELECT query_id, neighbor_id, neighbor_label,
             {_sql_dot("q_emb", "c_emb")} / ({_sql_norm("q_emb")} * {_sql_norm("c_emb")}) AS cosine
      FROM cand
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) t
    WHERE rk <= {TOP_K}
    """


@register("sim_search_lsh", oracle=_lsh_oracle())
def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH ANN with multiple hash tables:
    4 tables x 4-bit signatures; candidates = corpus rows sharing the
    query's bucket in ANY table (the OR-of-ANDs construction — same
    s-curve trick as MinHash banding); exact cosine + top-k on the
    candidate union only.

    One 8+-bit table has near-zero recall when true neighbors sit at
    cosine ~0.4 (P[all bits agree] = (1-θ/π)^bits ≈ 2%); shorter
    signatures OR'd across tables trade precision (bigger buckets) for
    recall at linear cost. Scale shape: signing is a narrow map over
    the corpus; each table's search is an equi-join on (table, bucket);
    corpus rows explode xN_TABLES only in the join keys, not payloads.
    Recall vs sim_search_topk is pinned by tests/test_similarity.py.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()  # null vectors are not searchable
    )
    # OPTIMIZATION_r13: (a) scan_parallel — the 16 plane-folds per
    # vector are real per-row CPU pinned to the single-row-group scan
    # task; (b) the vector norm is computed ONCE per corpus row in the
    # signed relation and carried through the bucket explode, instead
    # of 2 norm folds per candidate PAIR in _cosine (dot/(qn*cn) over
    # the same doubles — bit-identical; see _vnorm). The broadcast
    # query side replays this subtree with vec_id < N_QUERIES pushed
    # below the signing, so its copy signs only the query rows.
    signed = scan_parallel(e, "vec_id").select(
        "vec_id",
        "label",
        "embedding",
        _vnorm(F.col("embedding")).alias("nrm"),
        _lsh_signatures(F.col("embedding")).alias("sigs"),
    )
    # posexplode_outer, not posexplode: sigs is ALWAYS a non-null
    # N_TABLES-element array (a transform over a literal sequence), so
    # outer vs inner emit identical rows — but the inner form makes
    # InferFiltersFromGenerate fabricate size(sigs) > 0 /
    # isnotnull(sigs) predicates that push below the scan_parallel
    # Exchange and RE-EXPAND the whole 16-plane signing fold into the
    # one-task scan-side Filter (the text_repetition pathology;
    # OPTIMIZATION_r13 "second systemic finding"). Isolated
    # median-of-5 at sf0.1: 1.92 -> 1.61 s here, and sim_eval_recall —
    # which embeds this subtree — 4.10 -> 1.97 s.
    buckets = signed.select(
        "vec_id",
        "label",
        "embedding",
        "nrm",
        F.posexplode_outer("sigs").alias("table_id", "bucket"),
    )
    q = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        "table_id",
        "bucket",
    )
    c = buckets.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
        "table_id",
        "bucket",
    )
    candidates = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # q_norm/c_norm are functions of the ids, so identical across
        # the per-table duplicates dropDuplicates collapses
        .select(
            "query_id", "neighbor_id", "neighbor_label",
            "q_emb", "c_emb", "q_norm", "c_norm",
        )
        .dropDuplicates(["query_id", "neighbor_id"])  # union across tables
    )
    scored = candidates.withColumn(
        "cosine",
        _vdot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")),
    ).select("query_id", "neighbor_id", "neighbor_label", "cosine")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rk") <= TOP_K
    )


_EMB_DEDUP_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_sql_dot("a.embedding", "b.embedding")} /
         ({_sql_norm("a.embedding")} * {_sql_norm("b.embedding")}) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id AND a.embedding IS NOT NULL AND b.embedding IS NOT NULL
WHERE {_sql_dot("a.embedding", "b.embedding")} /
        ({_sql_norm("a.embedding")} * {_sql_norm("b.embedding")}) >= 0.85
"""


@register("emb_dedup_cosine", oracle=_EMB_DEDUP_ORACLE)
def emb_dedup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs (cosine >= 0.85),
    brute-force over all pairs — correctness baseline for the
    LSH-bucketed variant (at 100 TB, run the bucket join from
    sim_search_lsh first, then this exact check on candidates only)."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()  # null vectors are not searchable
    )
    # OPTIMIZATION_r13: norms hoisted to the per-vector sides (n + n
    # folds instead of 2·n²/2 — each pair previously folded BOTH
    # norms; dot/(na*nb) over the same doubles is bit-identical, see
    # _vnorm), and the STREAM side of the vec_a < vec_b
    # BroadcastNestedLoopJoin is scan_parallel'd — all n²/2 dot folds
    # ran in the one scan task the single-row-group input plans (the
    # broadcast side stays on the raw scan). A/B at sf0.1: 33.3 s ->
    # 1.1 s. The all-pairs shape itself is this key's documented
    # point (correctness baseline for the LSH cascade).
    #
    # The hoisted norms are coalesce(_vnorm, 0.0) — value-identical
    # output: _vnorm is NULL only for a vector with a NULL element,
    # and any pair involving such a vector has a NULL dot product
    # (zip_with propagates the hole), so its cosine is NULL and fails
    # the >= 0.85 filter under either norm encoding. What the
    # coalesce buys: the filter's isnotnull(cosine) constraint makes
    # Catalyst infer isnotnull(norm) per side, push it below the
    # scan_parallel Exchange, and RE-EXPAND the O(dim) norm fold into
    # the one-task scan-side Filter. At sf0.1 the time win is small
    # (2.30 -> 2.22 s — the n²/2 parallel dot folds dominate) but the
    # duplicated fold grows with dim x corpus on the ONE scan task,
    # exactly the straggler shape the repartition exists to remove.
    nz = lambda c: F.coalesce(_vnorm(c), F.lit(0.0))  # noqa: E731
    a = scan_parallel(e, "vec_id").select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        nz(F.col("embedding")).alias("norm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        nz(F.col("embedding")).alias("norm_b"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine",
            _vdot(F.col("emb_a"), F.col("emb_b"))
            / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine") >= 0.85)
        .select("vec_a", "vec_b", "cosine")
    )


# --- IVF (inverted-file) ANN ------------------------------------------

N_CENTROIDS = 16
CENT_LO = 100  # centroid seed rows: vec_id in [CENT_LO, CENT_LO + N_CENTROIDS)
N_PROBE = 4


def _sql_cos(a: str, b: str) -> str:
    return f"{_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)})"


_IVF_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cent_emb FROM embeddings
  WHERE vec_id >= {CENT_LO} AND vec_id < {CENT_LO + N_CENTROIDS}
    AND embedding IS NOT NULL
),
ac AS (
  SELECT e.vec_id, e.label, e.embedding, c.cid,
         {_sql_cos("e.embedding", "c.cent_emb")} AS cos_c
  FROM embeddings e CROSS JOIN cent c
  WHERE e.embedding IS NOT NULL
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cid) AS rkc
  FROM ac
),
assign AS (
  SELECT vec_id, label, embedding, cid FROM ranked WHERE rkc = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, cid
  FROM ranked WHERE vec_id < {N_QUERIES} AND rkc <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.label AS neighbor_label,
         {_sql_cos("p.q_emb", "a.embedding")} AS cosine
  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, neighbor_label, cosine, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored
) t
WHERE rk <= {TOP_K}
"""


@register("sim_search_ivf", oracle=_IVF_ORACLE)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer assigns every corpus
    vector to its nearest of {N_CENTROIDS} centroids (one narrow pass,
    centroids broadcast); each query probes its {N_PROBE} nearest
    centroid lists; exact cosine + top-k runs on the probed lists only.

    Centroids here are {N_CENTROIDS} fixed seed rows (deterministic, so
    the whole op — assignment, probing, rerank — is oracle-checkable);
    production swaps in k-means centroids from a sampled training pass
    without changing any plan shape. Scale shape: assignment is
    |corpus| x K cosines in one broadcast-join map (no shuffle of the
    corpus); the candidate join is an equi-join on cid; with K
    proportional to sqrt(|corpus|) and nprobe/K fixed, probed work is
    ~nprobe/K of brute force — the standard IVF trade.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()  # null vectors are not searchable
    )
    cent = e.filter(
        (F.col("vec_id") >= CENT_LO) & (F.col("vec_id") < CENT_LO + N_CENTROIDS)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cent_emb"))
    return ivf_search_frame(e, cent)


def _hier_assign(
    e: DataFrame,
    cent: DataFrame,
    n_super: int | None,
    super_cent: DataFrame | None = None,
) -> DataFrame:
    """Two-tier (IMI-style) coarse assignment: nearest of ``n_super``
    super-centroids first, then nearest centroid WITHIN that super's
    group — per-vector cosine work drops from K to ~(S + K/S), minimal
    at S ~ sqrt(K). This is the scaled-K fix the r10 annladder forced:
    with K ~ sqrt(n) the flat broadcast argmin is n*K ~ n^1.5 cosines
    and measured exponent 1.09 at 10x growth; two-tier brings the
    assign tier back to ~n*2*sqrt(K). The price is the standard IMI
    approximation — a vector whose true nearest centroid lives in a
    different super-group gets its group-local nearest instead (IVF
    assignment quality, not result correctness: probed-list recall is
    the knob, exactly as in FAISS's IMI/HNSW coarse quantizers). With
    n_super=1 the cascade degenerates to the exact flat argmin
    (pytest-pinned), so exactness is a parameter choice.

    Super-centroids default to the first ``n_super`` centroids by cid
    — deterministic, but worst-case occupancy is unbounded (an
    adversarial centroid set can funnel most centroids into one
    super-group, eroding the S + K/S bound). Pass ``super_cent``
    (sid, sup_emb) — e.g. :func:`train_super_centroids` output, a
    K-row (tiny) k-means over the centroid relation itself — to make
    the bound structural; the plan shape is identical either way
    (VERDICT r10 item 5; occupancy spread measured in SCALE.md r11).
    Emits ``e``'s columns plus cid (callers carry different payloads:
    IVF search has a label column, semdedup doesn't).

    CONSERVATION (ADVICE r11): vectors rank only over supers that OWN
    at least one centroid in cmap's argmin. A trained super can end up
    with an empty Voronoi cell (supers train in quantized-L2 space
    while cmap assigns by cosine; even in one metric a post-update
    Lloyd's cell can be empty — and duplicate centroid coordinates can
    empty a super under the first-S default too), and the final
    vsel⋈cmap join is INNER on sid, so a vector whose nearest super is
    empty would silently vanish from IVF corpora / the semdedup ledger
    / kmeans cluster mass. Restricting the vector-side rank to
    non-empty supers reassigns such vectors to their next-nearest
    LIVE super instead — same IMI approximation class, zero row loss
    (conservation pytest-pinned on a constructed empty-super set)."""
    cols = list(e.columns)
    if super_cent is not None:
        sup = super_cent.select("sid", "sup_emb")
    else:
        sup = (
            cent.orderBy("cid")
            .limit(n_super)
            .select(F.col("cid").alias("sid"), F.col("cent_emb").alias("sup_emb"))
        )
    wc = Window.partitionBy("cid").orderBy(F.col("cs").desc(), "sid")
    cmap = (
        cent.crossJoin(F.broadcast(sup))
        .withColumn("cs", _cosine(F.col("cent_emb"), F.col("sup_emb")))
        .withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") == 1)
        .select("cid", "cent_emb", "sid")
    )
    # S-row ∩ K-row relations — the non-empty-super derivation is
    # noise; cmap's tiny subtree recomputes rather than caching.
    sup_live = sup.join(cmap.select("sid"), "sid", "left_semi")
    wv = Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), "sid")
    vsel = (
        e.crossJoin(F.broadcast(sup_live))
        .withColumn("cs", _cosine(F.col("embedding"), F.col("sup_emb")))
        .withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select(*cols, "sid")
    )
    wa = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), "cid")
    return (
        vsel.join(F.broadcast(cmap), "sid")
        .withColumn("cos_c", _cosine(F.col("embedding"), F.col("cent_emb")))
        .withColumn("rkc", F.row_number().over(wa))
        .filter(F.col("rkc") == 1)
        .select(*cols, "cid")
    )


def ivf_search_frame(
    e: DataFrame,
    cent: DataFrame,
    n_probe: int = N_PROBE,
    top_k: int = TOP_K,
    n_queries: int = N_QUERIES,
    n_super: int | None = None,
    super_cent: DataFrame | None = None,
) -> DataFrame:
    """sim_search_ivf's body over an ARBITRARY centroid relation
    (cid, cent_emb) and probe/top-k sizing — the production entry
    point where K actually scales with the corpus (K ~ sqrt(n),
    nprobe/K fixed, per the registered key's docstring; pass
    emb_kmeans_train output or any trained quantizer). The registered
    key keeps the fixed seed centroids so its oracle stays
    byte-stable. With ``n_super`` set, corpus assignment runs the
    two-tier cascade (:func:`_hier_assign`) — mandatory at scaled K,
    where the flat broadcast argmin's n*K cosines measured exponent
    1.09 on the r10 growth ladder; queries still rank ALL K centroids
    exactly (n_queries rows — free) so the probe tier is unchanged.
    SCALE.md records both variants' ladder measurements."""
    if n_super is None and super_cent is None:
        ac = e.join(F.broadcast(cent)).withColumn(
            "cos_c", _cosine(F.col("embedding"), F.col("cent_emb"))
        )
        w_assign = Window.partitionBy("vec_id").orderBy(
            F.col("cos_c").desc(), "cid"
        )
        ranked = ac.withColumn("rkc", F.row_number().over(w_assign))
        assign = ranked.filter(F.col("rkc") == 1).select(
            "vec_id", "label", "embedding", "cid"
        )
        probe_src = ranked
    else:
        assign = _hier_assign(e, cent, n_super, super_cent=super_cent)
        wq = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), "cid")
        probe_src = (
            e.filter(F.col("vec_id") < n_queries)
            .join(F.broadcast(cent))
            .withColumn("cos_c", _cosine(F.col("embedding"), F.col("cent_emb")))
            .withColumn("rkc", F.row_number().over(wq))
        )
    probes = (
        probe_src.filter((F.col("vec_id") < n_queries) & (F.col("rkc") <= n_probe))
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), "cid")
    )
    scored = (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            _cosine(F.col("q_emb"), F.col("embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rk") <= top_k
    )


N_SUPER_CASCADE = 2  # fixed S for the oracle-checkable cascade key

# Unrolled S=2 two-tier CTEs mirroring _hier_assign exactly (VERDICT
# r12 item 2): sup = first S centroids by cid; cmap = each centroid's
# nearest super (cosine desc, sid tiebreak); sup_live = supers OWNING
# at least one centroid (the ADVICE r11 conservation rule — a vector
# never ranks an empty super, so no row silently vanishes); vsel =
# each vector's nearest LIVE super; assign = within-super centroid
# argmin. Queries rank ALL K centroids exactly (ivf_search_frame's
# cascade branch recomputes the flat probe rank for the n_queries
# rows), so probes/scored/top-k are byte-identical to _IVF_ORACLE.
_IVF_CASCADE_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cent_emb FROM embeddings
  WHERE vec_id >= {CENT_LO} AND vec_id < {CENT_LO + N_CENTROIDS}
    AND embedding IS NOT NULL
),
sup AS (
  SELECT cid AS sid, cent_emb AS sup_emb FROM cent ORDER BY cid LIMIT {N_SUPER_CASCADE}
),
cmap AS (
  SELECT cid, cent_emb, sid FROM (
    SELECT c.cid, c.cent_emb, s.sid,
           ROW_NUMBER() OVER (
             PARTITION BY c.cid
             ORDER BY {_sql_cos("c.cent_emb", "s.sup_emb")} DESC, s.sid) AS rk
    FROM cent c CROSS JOIN sup s
  ) t WHERE rk = 1
),
sup_live AS (
  SELECT sp.sid, sp.sup_emb FROM sup sp
  WHERE sp.sid IN (SELECT sid FROM cmap)
),
vsel AS (
  SELECT vec_id, label, embedding, sid FROM (
    SELECT e.vec_id, e.label, e.embedding, s.sid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos("e.embedding", "s.sup_emb")} DESC, s.sid) AS rk
    FROM embeddings e CROSS JOIN sup_live s
    WHERE e.embedding IS NOT NULL
  ) t WHERE rk = 1
),
assign AS (
  SELECT vec_id, label, embedding, cid FROM (
    SELECT v.vec_id, v.label, v.embedding, m.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_sql_cos("v.embedding", "m.cent_emb")} DESC, m.cid) AS rkc
    FROM vsel v JOIN cmap m ON m.sid = v.sid
  ) t WHERE rkc = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos("e.embedding", "c.cent_emb")} DESC, c.cid) AS rkc
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < {N_QUERIES} AND e.embedding IS NOT NULL
  ) t WHERE rkc <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.label AS neighbor_label,
         {_sql_cos("p.q_emb", "a.embedding")} AS cosine
  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, neighbor_label, cosine, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored
) t
WHERE rk <= {TOP_K}
"""


@register("sim_search_ivf_cascade", oracle=_IVF_CASCADE_ORACLE)
def sim_search_ivf_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with the TWO-TIER (IMI-style) assignment cascade
    under a driver oracle — sim_search_ivf's exact sizing (16 seed
    centroids, nprobe 4, top-10) but corpus assignment runs
    :func:`_hier_assign` at a FIXED S={N_SUPER_CASCADE} instead of the
    flat argmin. This attests the exact code path production-scale
    search runs (K ~ sqrt(n) makes the cascade mandatory — the flat
    assign's n*K cosines measured exponent 1.09 on the r10 ladder),
    which until r13 was the largest pytest-only production seam
    (VERDICT r12 item 2): every oracle-attested trained chain used the
    flat assignment precisely because it kept the oracle expressible.
    At S=2 the cascade is small enough to UNROLL as two-tier CTEs —
    super argmin restricted to supers that own a centroid (the ADVICE
    r11 empty-Voronoi conservation semantics, r12-fixed at
    `_hier_assign`'s sup_live join), then within-super centroid
    argmin — so the approximation itself, not a degenerate form of
    it, is what the driver hashes. The n_super=1 degeneracy test and
    the hypothesis conservation model remain the scaled-S evidence
    (tests/test_similarity.py).

    Scale shape: identical to sim_search_ivf except assignment's
    per-vector cosine work drops K -> S + K/S with the same
    broadcast-only plan (S-row and K-row relations broadcast; the
    corpus never shuffles for assignment); the probe tier is
    unchanged. SURVEY.md §2.3 ANN; reference has no ANN surface —
    engine-capability extension."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()  # null vectors are not searchable
    )
    cent = e.filter(
        (F.col("vec_id") >= CENT_LO) & (F.col("vec_id") < CENT_LO + N_CENTROIDS)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cent_emb"))
    return ivf_search_frame(e, cent, n_super=N_SUPER_CASCADE)


def _emb_dedup_lsh_oracle() -> str:
    return f"""
    WITH {_lsh_sigs_cte()},
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sigs a JOIN sigs b
        ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           {_sql_dot("ea.embedding", "eb.embedding")} /
             ({_sql_norm("ea.embedding")} * {_sql_norm("eb.embedding")}) AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_a
    JOIN embeddings eb ON eb.vec_id = c.vec_b
    WHERE {_sql_dot("ea.embedding", "eb.embedding")} /
            ({_sql_norm("ea.embedding")} * {_sql_norm("eb.embedding")}) >= 0.85
    """


@register("emb_dedup_cosine_lsh", oracle=_emb_dedup_lsh_oracle())
def emb_dedup_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production embedding-dedup cascade: sign-LSH buckets
    generate candidate pairs (equi-join on (table, bucket) — only
    bucket-mates pair up), exact cosine >= 0.85 verifies. Work scales
    with bucket collision volume, not corpus²; emb_dedup_cosine is the
    all-pairs correctness baseline this is measured against in
    tests/test_similarity.py. Near-duplicate embeddings almost always
    share all sign bits in at least one table, so recall at the 0.85
    threshold is near-total."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()  # null vectors are not searchable
    )
    # OPTIMIZATION_r13: the bucket relation is consumed by BOTH sides
    # of the self-join — without materialization the 16-plane signing
    # pass ran TWICE over the corpus (no pushed filter narrows either
    # copy, unlike sim_search_lsh's query side), each on the one scan
    # task the single-row-group input plans. scan_parallel + ONE
    # localCheckpoint of the signed relation (corpus-row-sized:
    # embedding + norm + 4 bucket ids/row; same GC-release contract as
    # the dedup cascades), and the vector norm folds once per row
    # instead of twice per candidate pair (bit-identical dot/(na*nb),
    # see _vnorm).
    signed = scan_parallel(e, "vec_id").select(
        "vec_id",
        "embedding",
        _vnorm(F.col("embedding")).alias("nrm"),
        _lsh_signatures(F.col("embedding")).alias("sigs"),
    ).localCheckpoint()
    buckets = signed.select(
        "vec_id",
        "embedding",
        "nrm",
        F.posexplode("sigs").alias("table_id", "bucket"),
    )
    a = buckets.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("norm_a"), "table_id", "bucket",
    )
    b = buckets.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("norm_b"), "table_id", "bucket",
    )
    cand = (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        # norms are functions of the ids — identical across the
        # per-table duplicates dropDuplicates collapses
        .select("vec_a", "vec_b", "emb_a", "emb_b", "norm_a", "norm_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return (
        cand.withColumn(
            "cosine",
            _vdot(F.col("emb_a"), F.col("emb_b"))
            / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine") >= 0.85)
        .select("vec_a", "vec_b", "cosine")
    )


@register(
    "emb_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             {bad} AS bad,
             list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS scale
      FROM embeddings)
    SELECT vec_id,
           CASE WHEN bad THEN CAST('NaN' AS DOUBLE) ELSE scale END AS scale,
           CASE WHEN bad THEN NULL ELSE
             array_to_string(list_transform(embedding,
               y -> CAST(FLOOR(CAST(y AS DOUBLE) / scale * 127.0) AS INTEGER)), ',')
           END AS q8,
           CASE WHEN bad THEN CAST('NaN' AS DOUBLE) ELSE
             list_max(list_transform(embedding,
               y -> abs(CAST(y AS DOUBLE)
                        - CAST(FLOOR(CAST(y AS DOUBLE) / scale * 127.0) AS INTEGER)
                          * scale / 127.0)))
           END AS max_abs_err
    FROM s ORDER BY vec_id
    """.format(bad="""list_bool_or(list_transform(embedding, y -> y IS NULL OR isnan(CAST(y AS DOUBLE)) OR isinf(CAST(y AS DOUBLE))))"""),
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector absmax int8 quantization of the embedding column —
    the standard 4x storage/bandwidth reduction before ANN indexing at
    corpus scale — plus the reconstruction-error bound it ships with
    (max |x - dequant(x)| per vector).

    Scale shape: a narrow map of JVM higher-order functions
    (transform/array_max), zero shuffle, linear in vectors. Floats
    promote to double exactly and every step (divide, scale, floor) is
    an identical IEEE expression in both engines, so even the error
    column hash-matches the oracle. Quantized payload is stringified
    only because the driver's compare can't sort array cells.
    """
    e = load_table(spark, sf_dir, "embeddings")
    xd = lambda y: y.cast("double")  # noqa: E731
    # A vector with any non-finite ELEMENT cannot be absmax-quantized
    # (inf/absmax = NaN, NaN poisons every code) — such vectors emit
    # NULL codes and NaN scale/error, surfaced not laundered
    # (array-element extremes fuzz). A MISSING element (NULL inside a
    # non-null array — the missing-feature writer, holes fuzz r12) is
    # the same contract: both engines' join/aggregate kernels SKIP
    # null elements, which silently loses the hole's position from
    # the q8 fingerprint — and they skip differently enough to
    # diverge — so hole-vectors are bad too. An EMPTY vector has no
    # absmax at all: scale and error are NULL by propagation, and q8
    # must be NULL too — Spark's array_join over an empty array is ''
    # while the oracle's NULL-scale CASE yields NULL (ragged fuzz,
    # r12).
    inf = F.lit(float("inf"))
    badv = F.exists(
        "embedding",
        lambda y: y.isNull() | F.isnan(xd(y)) | (F.abs(xd(y)) == inf),
    )
    scale = F.array_max(F.transform("embedding", lambda y: F.abs(xd(y))))
    s = e.select("vec_id", "embedding", badv.alias("bad"), scale.alias("scale"))
    q = lambda y: F.floor(xd(y) / F.col("scale") * 127.0).cast("int")  # noqa: E731
    nan = F.lit(float("nan"))
    return s.select(
        "vec_id",
        F.when(F.col("bad"), nan).otherwise(F.col("scale")).alias("scale"),
        F.when(
            ~F.col("bad") & (F.size("embedding") > 0),
            F.array_join(F.transform("embedding", lambda y: q(y).cast("string")), ","),
        ).alias("q8"),
        F.when(F.col("bad"), nan)
        .otherwise(
            F.array_max(
                F.transform(
                    "embedding",
                    lambda y: F.abs(xd(y) - q(y).cast("double") * F.col("scale") / 127.0),
                )
            )
        )
        .alias("max_abs_err"),
    )  # no orderBy: corpus-sized output, global sort would be waste


# --- broadcast-index ANN (the Arrow/numpy scale path) -----------------

_Q_SCALE = 1 << 20  # power of two: double * 2^20 only shifts the exponent
_BC_DIM = 64  # the broadcast index's declared dimension: the numpy
# matmul kernel requires one fixed dim per index artifact (np.stack
# over a ragged Arrow batch raises — a single off-dim vector would
# kill the executor task at scale; ragged fuzz, r12)


def _sql_int_dot(a: str, b: str) -> str:
    """Exact int64 dot product of two quantized float vectors.

    ``CAST(f AS DOUBLE) * 2^20`` is exact (power-of-two scaling), FLOOR
    is exact, and the int64 sum is order-independent — so the score is
    the identical integer in Spark, numpy, and DuckDB, with no float
    summation anywhere.
    """
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> CAST(FLOOR(CAST({a}[i] AS DOUBLE) * {_Q_SCALE}.0) AS BIGINT)"
        f" * CAST(FLOOR(CAST({b}[i] AS DOUBLE) * {_Q_SCALE}.0) AS BIGINT))), "
        f"(acc, v) -> acc + v)"
    )


@register(
    "sim_search_bcast_index",
    oracle=f"""
    WITH fe AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND len(embedding) = {_BC_DIM}
        AND NOT list_bool_or(list_transform(embedding,
              y -> y IS NULL OR isnan(CAST(y AS DOUBLE))
                   OR abs(CAST(y AS DOUBLE)) >= 4398046511104.0))),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_int_dot('q.embedding', 'c.embedding')} AS dot_q
      FROM fe q JOIN fe c
        ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, dot_q, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY dot_q DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= {TOP_K}
    """,
)
def sim_search_bcast_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k maximum-inner-product search with a BROADCAST numpy index
    — the Arrow-batched scale path for vector search: the (small)
    query matrix ships to every executor as a broadcast variable, each
    Arrow batch of the corpus scores against it with ONE int64 matrix
    multiply, and only per-batch top-k survivors (<= k rows per query
    per batch) reach the final window. The corpus is scanned once,
    embarrassingly parallel; nothing corpus-sized ever shuffles.

    Scores are exact integers (embeddings quantized by a power-of-two
    scale, so quantization itself is float-exact), which is what lets
    an oracle hash-check a numpy matmul: integer accumulation is
    order-independent, float dot products are not.

    The driver-side ``collect()`` is O(|queries|) by contract — the
    broadcast-index pattern only applies when the query set is small
    enough to ship; for query sets at corpus scale use sim_search_lsh.
    """
    import numpy as np
    import pandas as pd

    # NULL embeddings would also crash np.stack over the Arrow batch
    # - a single bad row kills the executor task at scale, and a NULL
    # vec_id would round-trip through NaN->int64 as INT64_MIN garbage
    # in the numpy kernel (both fuzz-found). SQL comparisons drop null
    # ids implicitly; the kernel path must do it explicitly.
    # The integer-exact kernel REQUIRES finite vectors (floor(x*2^20)
    # of NaN/Inf is int64 garbage) — corrupt vectors are excluded like
    # NULL ones, unlike the IEEE-path ops where NaN cosines rank
    # identically in both engines. Off-dim vectors are excluded the
    # same way (_BC_DIM): np.stack over a ragged batch RAISES and one
    # bad row would kill the whole executor task; a d'-dim vector has
    # no defined score against a d-dim index anyway (ragged fuzz, r12).
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & F.col("vec_id").isNotNull()
        & (F.size("embedding") == _BC_DIM)
        & ~F.exists(
            "embedding",
            # missing (NULL element — np.stack->astype would turn it
            # into INT64_MIN garbage; the explicit leg also keeps the
            # EXISTS definite where DuckDB's bool_or skips nulls —
            # holes fuzz, r12), NaN, Inf, or beyond the quantization
            # domain (|y| * 2^20 must stay inside int64 -> |y| < 2^42)
            lambda y: y.isNull()
            | F.isnan(y.cast("double"))
            | (F.abs(y.cast("double")) >= F.lit(float(2**42))),
        )
    )
    qrows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.floor(
        np.array([r.embedding for r in qrows], dtype=np.float64) * _Q_SCALE
    ).astype(np.int64)
    bc = spark.sparkContext.broadcast((qids, qmat))

    def score_batches(batches):
        ids, qm = bc.value
        k = TOP_K
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * _Q_SCALE
            ).astype(np.int64)
            nids = pdf["vec_id"].to_numpy(dtype=np.int64)
            scores = cmat @ qm.T  # (batch, n_queries) exact int64
            out = []
            for j, qid in enumerate(ids):
                col = scores[:, j]
                mask = nids != qid
                cand_ids, cand_s = nids[mask], col[mask]
                if len(cand_ids) > k:
                    # top-k by (score desc, neighbor_id asc)
                    order = np.lexsort((cand_ids, -cand_s))[:k]
                else:
                    order = np.lexsort((cand_ids, -cand_s))
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": cand_ids[order],
                            "dot_q": cand_s[order],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = e.select("vec_id", "embedding").mapInPandas(
        score_batches, "query_id bigint, neighbor_id bigint, dot_q bigint"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id")
    )
    return partial.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rk") <= TOP_K
    )


# --- knn_classify -----------------------------------------------------

_KNN_NQ = 10  # vec_id < 10 are the classification queries
_KNN_K = 5

_KNN_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {_SQL_COS} AS cosine
  FROM embeddings q JOIN embeddings c
    ON q.vec_id < {_KNN_NQ} AND c.vec_id >= {_KNN_NQ}
   AND q.embedding IS NOT NULL AND c.embedding IS NOT NULL),
topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rk
    FROM scored) t
  WHERE rk <= {_KNN_K}),
votes AS (
  SELECT query_id, true_label, neighbor_label,
         CAST(COUNT(*) AS BIGINT) AS votes
  FROM topk GROUP BY query_id, true_label, neighbor_label)
SELECT query_id, true_label, neighbor_label AS pred_label, votes
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY votes DESC, neighbor_label NULLS FIRST) AS vr
  FROM votes) v
WHERE vr = 1
ORDER BY query_id
"""


@register("knn_classify", oracle=_KNN_ORACLE)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction: each query vector gets the majority label
    of its 5 nearest corpus neighbors by cosine — the classic
    label-propagation / weak-labeling primitive for curating training
    data (label the unlabeled 100 TB pool from a small labeled seed).

    Tiebreaks are total everywhere (neighbor_id inside the top-k,
    label inside the vote), and the cosines themselves are
    bit-identical cross-engine (sequential fold, see module
    docstring), so the predicted labels are fully deterministic.

    Scale shape: same as sim_search_topk — the labeled query batch
    broadcasts, the corpus streams through one scan with
    WindowGroupLimit pruning to k per query before the shuffle; the
    vote is a groupBy over |queries|·k rows, i.e. nothing.

    OPTIMIZATION_r13: vector norms fold once per corpus row / once
    per query instead of twice per (query, corpus) pair (dot/(qn*cn)
    bit-identical, see _vnorm). A corpus-side scan repartition was
    measured NEUTRAL here (0.98x — the scoring fan-out is only
    |corpus| x 8 queries) and rejected.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()  # null vectors are not searchable
    )
    q = e.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
        _vnorm(F.col("embedding")).alias("q_norm"),
    )
    c = e.filter(F.col("vec_id") >= _KNN_NQ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        _vnorm(F.col("embedding")).alias("c_norm"),
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine",
        _vdot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")),
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    votes = (
        scored.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") <= _KNN_K)
        .groupBy("query_id", "true_label", "neighbor_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), "neighbor_label"
    )
    return (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("neighbor_label").alias("pred_label"),
            "votes",
        )
        .orderBy("query_id")
    )


# --- emb_centroid -----------------------------------------------------


@register(
    "emb_centroid",
    oracle=f"""
    WITH x AS (
      SELECT label,
             unnest(generate_series(1, len(embedding))) - 1 AS dim,
             unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
      FROM embeddings)
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CASE WHEN MAX(CASE WHEN v IS NOT NULL AND (isnan(v) OR abs(v) >= 1e12)
                         THEN 1 ELSE 0 END) = 1
                THEN CAST('NaN' AS DOUBLE)
                ELSE {sql_ddouble("SUM(CASE WHEN NOT isnan(v) AND abs(v) < 1e12 THEN CAST(FLOOR(v * 1000000) AS HUGEINT) END)")}
                  / 1000000.0 / COUNT(*)
           END AS mean_val
    FROM x GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, long form (label,
    dim, mean) — the aggregation behind class prototypes, IVF coarse
    centroids, and drift monitoring over an embedded corpus.

    Element values are quantized to 1e-6 and summed as exact 38-digit
    integers per (label, dim), so the means are order-independent and
    hash-identical cross-engine (a plain per-dimension float SUM would
    depend on partial-agg order). Long form deliberately: array
    reassembly would force a float->string render, whose formatting is
    engine-specific.

    Scale shape: posexplode is a narrow 1→64 fan-out fused into the
    scan; the single shuffle carries (label, dim) partial sums —
    map-side combine collapses each task to ≤ |labels|·dim rows, so
    the exchange is tiny no matter how big the corpus is.
    """
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        F.col("dim").cast("bigint").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    # A non-finite/out-of-domain ELEMENT poisons its (label, dim)
    # mean to NaN — drift monitoring must surface corrupt vectors,
    # not average around them (array-element extremes fuzz).
    v = F.col("v")
    ok = ~F.isnan(v) & (F.abs(v) < F.lit(1e12))
    bad = F.max(F.when(v.isNotNull() & ~ok, 1).otherwise(0))
    s = F.sum(F.when(ok, F.floor(v * 1000000)).cast("decimal(38,0)"))
    return (
        x.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.when(bad == 1, F.lit(float("nan")))
            .otherwise(ddouble(s) / F.lit(1000000.0) / F.count(F.lit(1)))
            .alias("mean_val"),
        )
        .orderBy("label", "dim")
    )


# --- emb_pq_quantize --------------------------------------------------

# Product quantization: the 64-dim vector splits into _PQ_M contiguous
# 16-dim subvectors; each is assigned to the nearest of _PQ_K fixed
# centroids by L2, giving a _PQ_M-byte code per vector (here 4 codes of
# 3 bits). Centroids are seed-deterministic Gaussians embedded as SQL
# literals — a production build would k-means them per subspace exactly
# like sim_search_ivf documents for its coarse quantizer; the assignment
# machinery (the part Spark executes at scale) is identical either way.
_PQ_M = 4
_PQ_SUB = 16
_PQ_K = 8


def _pq_centroids() -> list[list[list[float]]]:
    rng = random.Random(20240814)
    return [
        [[round(rng.gauss(0.0, 0.12), 6) for _ in range(_PQ_SUB)] for _ in range(_PQ_K)]
        for _ in range(_PQ_M)
    ]


def _pq_spark_dists(m: int, cents: list[list[float]]) -> str:
    """Spark SQL: array of L2 distances from subvector m to each
    centroid — sequential fold over index order (element_at is
    1-based, matching DuckDB's list indexing)."""
    arrs = ", ".join(
        "array(" + ", ".join(f"cast({x!r} as double)" for x in c) + ")" for c in cents
    )
    off = m * _PQ_SUB
    return (
        f"transform(array({arrs}), c -> aggregate(sequence(1, {_PQ_SUB}), "
        f"cast(0.0 as double), (acc, i) -> acc + "
        f"(cast(element_at(embedding, {off} + i) as double) - element_at(c, i)) "
        f"* (cast(element_at(embedding, {off} + i) as double) - element_at(c, i))))"
    )


def _pq_duck_dists(m: int, cents: list[list[float]]) -> str:
    arrs = ", ".join(
        "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in c) + "]" for c in cents
    )
    off = m * _PQ_SUB
    return (
        f"list_transform([{arrs}], c -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {_PQ_SUB}), "
        f"i -> (CAST(embedding[{off} + i] AS DOUBLE) - c[i]) "
        f"* (CAST(embedding[{off} + i] AS DOUBLE) - c[i]))), (acc, v) -> acc + v))"
    )


_PQ_CENTS = _pq_centroids()

_PQ_ORACLE = f"""
WITH d AS (
  SELECT vec_id,
         embedding IS NULL OR len(embedding) <> {_PQ_M * _PQ_SUB}
           OR list_bool_or(list_transform(embedding, y -> y IS NULL))
           AS not_codable,
         {", ".join(f"{_pq_duck_dists(m, _PQ_CENTS[m])} AS d{m}" for m in range(_PQ_M))}
  FROM embeddings)
SELECT vec_id,
       CASE WHEN not_codable THEN NULL ELSE
       {" || '-' || ".join(f"CAST(list_position(d{m}, list_min(d{m})) - 1 AS VARCHAR)" for m in range(_PQ_M))}
       END AS pq_code,
       CASE WHEN not_codable THEN NULL ELSE
       {" + ".join(f"list_min(d{m})" for m in range(_PQ_M))} END AS recon_err
FROM d
ORDER BY vec_id
"""


@register("emb_pq_quantize", oracle=_PQ_ORACLE)
def emb_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding column: each vector
    compressed to a {_PQ_M}-code PQ word plus its reconstruction error
    — THE memory-bound ANN technique at 100 TB scale (codes are ~16x
    smaller than float16 vectors; IVF-PQ = sim_search_ivf's coarse
    lists + these fine codes).

    Determinism: distances are sequential folds over index order on
    identical literals, argmin is first-occurrence array_position /
    list_position (same 1-based semantics both engines), and the
    reconstruction error sums the {_PQ_M} subspace minima in fixed
    order — every output bit-identical cross-engine.

    Scale shape: pure narrow map over the scan — the centroid table is
    a plan literal (broadcast-variable-sized in a real build), so
    quantizing N vectors is embarrassingly parallel with zero
    shuffles; only the tiny (vec_id, code, err) result moves.

    DIMENSION CONTRACT (ragged fuzz, r12): the codebook is a
    {_PQ_M}x{_PQ_SUB}-dim artifact — a vector whose length is not
    exactly {_PQ_M * _PQ_SUB} is NOT PQ-encodable against it, and the
    engines' NULL-in-list argmin semantics diverge on the partial
    subspace distances a ragged vector produces (Spark's array_min
    propagates the NULL tail products; DuckDB's list_min skips them).
    Off-dim vectors keep their row and emit NULL code/err — surfaced,
    not laundered, exactly the NULL-embedding rule.
    """
    e = load_table(spark, sf_dir, "embeddings")
    d = e.select(
        "vec_id",
        (
            F.col("embedding").isNull()
            | (F.size("embedding") != _PQ_M * _PQ_SUB)
            # missing features (holes fuzz, r12): NULL-tail products
            # hit the same divergent NULL-in-list argmin as ragged
            | F.exists("embedding", lambda y: y.isNull())
        ).alias("not_codable"),
        *[
            F.expr(_pq_spark_dists(m, _PQ_CENTS[m])).alias(f"d{m}")
            for m in range(_PQ_M)
        ],
    )
    code = F.concat_ws(
        "-",
        *[
            (F.array_position(F.col(f"d{m}"), F.array_min(F.col(f"d{m}"))) - 1).cast(
                "string"
            )
            for m in range(_PQ_M)
        ],
    )
    err = F.array_min(F.col("d0"))
    for m in range(1, _PQ_M):
        err = err + F.array_min(F.col(f"d{m}"))
    # NULL / off-dim embedding -> NULL code/err (matching the oracle's
    # CASE): concat_ws would otherwise silently emit '' or a partial
    # code string.
    return d.select(
        "vec_id",
        F.when(~F.col("not_codable"), code).alias("pq_code"),
        F.when(~F.col("not_codable"), err).alias("recon_err"),
    ).orderBy("vec_id")


# --- sim_search_pq (ADC over PQ codes) --------------------------------

_ADC_K = 10

_ADC_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id,
         {", ".join(f"list_position(d{m}, list_min(d{m})) AS k{m}" for m in range(_PQ_M))}
  FROM (
    SELECT vec_id,
           {", ".join(f"{_pq_duck_dists(m, _PQ_CENTS[m])} AS d{m}" for m in range(_PQ_M))}
    FROM embeddings WHERE vec_id >= {N_QUERIES} AND embedding IS NOT NULL
      AND len(embedding) = {_PQ_M * _PQ_SUB}
      AND NOT list_bool_or(list_transform(embedding, y -> y IS NULL))) cd),
queries AS (
  SELECT vec_id AS query_id,
         {", ".join(f"{_pq_duck_dists(m, _PQ_CENTS[m])} AS t{m}" for m in range(_PQ_M))}
  FROM embeddings WHERE vec_id < {N_QUERIES} AND embedding IS NOT NULL
    AND len(embedding) = {_PQ_M * _PQ_SUB}
    AND NOT list_bool_or(list_transform(embedding, y -> y IS NULL))),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {" + ".join(f"q.t{m}[c.k{m}]" for m in range(_PQ_M))} AS adc_dist
  FROM queries q CROSS JOIN corpus c)
SELECT query_id, neighbor_id, adc_dist, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, neighbor_id) AS rk
  FROM scored) t
WHERE rk <= {_ADC_K}
"""


@register("sim_search_pq", oracle=_ADC_ORACLE)
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) similarity search over PQ codes — the
    query half of IVF-PQ: the corpus is represented ONLY by its
    {_PQ_M}-code PQ words (emb_pq_quantize), and each query precomputes
    a {_PQ_M}x{_PQ_K} table of subspace distances to the centroids;
    scoring a corpus vector is then {_PQ_M} table lookups + adds
    instead of a 64-dim float kernel.

    This is the memory-bandwidth shape that makes billion-vector
    search feasible: at 100 TB the scan reads 4-byte codes, not 256-
    byte vectors, and the per-candidate cost is O(M) integer-indexed
    adds. Determinism: codes and tables come from the same bit-exact
    fold/argmin machinery as emb_pq_quantize, and the final sum adds
    the {_PQ_M} lookups in fixed order.

    Scale shape: query tables broadcast (|queries| x {_PQ_M * _PQ_K}
    doubles); the coded corpus streams through one scan with
    WindowGroupLimit pruning to k per query before the shuffle.
    """
    # NULL embeddings are not searchable (corpus) and have no
    # neighborhood (queries) — excluded on both sides, fuzz-pinned.
    # Off-dim and missing-feature vectors are excluded the same way
    # (ragged + holes fuzz, r12): PQ codes and ADC tables only exist
    # against the {_PQ_M}x{_PQ_SUB}-dim codebook — see
    # emb_pq_quantize's dimension contract.
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == _PQ_M * _PQ_SUB)
        & ~F.exists("embedding", lambda y: y.isNull())
    )
    corpus = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        *[
            (
                lambda m: F.expr(
                    f"array_position({_pq_spark_dists(m, _PQ_CENTS[m])}, "
                    f"array_min({_pq_spark_dists(m, _PQ_CENTS[m])}))"
                ).alias(f"k{m}")
            )(m)
            for m in range(_PQ_M)
        ],
    )
    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[
            F.expr(_pq_spark_dists(m, _PQ_CENTS[m])).alias(f"t{m}")
            for m in range(_PQ_M)
        ],
    )
    scored = corpus.join(F.broadcast(queries))
    dist = F.element_at(F.col("t0"), F.col("k0").cast("int"))
    for m in range(1, _PQ_M):
        dist = dist + F.element_at(F.col(f"t{m}"), F.col(f"k{m}").cast("int"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("neighbor_id"))
    return (
        scored.withColumn("adc_dist", dist)
        .select("query_id", "neighbor_id", "adc_dist")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _ADC_K)
    )


# --- sim_search_ivfpq (IVF coarse lists + PQ/ADC fine scoring) --------

_IVFPQ_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cent_emb FROM embeddings
  WHERE vec_id >= {CENT_LO} AND vec_id < {CENT_LO + N_CENTROIDS}
    AND embedding IS NOT NULL AND len(embedding) = {_PQ_M * _PQ_SUB}
    AND NOT list_bool_or(list_transform(embedding, y -> y IS NULL))
),
ranked AS (
  SELECT e.vec_id, e.embedding, c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_sql_cos("e.embedding", "c.cent_emb")} DESC,
                                     c.cid) AS rkc
  FROM embeddings e CROSS JOIN cent c
  WHERE e.embedding IS NOT NULL AND len(e.embedding) = {_PQ_M * _PQ_SUB}
    AND NOT list_bool_or(list_transform(e.embedding, y -> y IS NULL))
),
corpus AS (
  SELECT r.vec_id,
         r.cid,
         {", ".join(f"list_position(d{m}, list_min(d{m})) AS k{m}" for m in range(_PQ_M))}
  FROM (
    SELECT vec_id, cid,
           {", ".join(f"{_pq_duck_dists(m, _PQ_CENTS[m])} AS d{m}" for m in range(_PQ_M))}
    FROM ranked WHERE rkc = 1 AND vec_id >= {N_QUERIES}) r
),
probes AS (
  SELECT vec_id AS query_id, cid,
         {", ".join(f"{_pq_duck_dists(m, _PQ_CENTS[m])} AS t{m}" for m in range(_PQ_M))}
  FROM ranked WHERE vec_id < {N_QUERIES} AND rkc <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {" + ".join(f"p.t{m}[c.k{m}]" for m in range(_PQ_M))} AS adc_dist
  FROM probes p JOIN corpus c ON c.cid = p.cid
)
SELECT query_id, neighbor_id, adc_dist, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, neighbor_id) AS rk
  FROM scored) t
WHERE rk <= {_ADC_K}
"""


@register("sim_search_ivfpq", oracle=_IVFPQ_ORACLE)
def sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the full billion-scale ANN architecture (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search"): an IVF coarse
    quantizer restricts each query to its {N_PROBE} nearest centroid
    lists (sim_search_ivf's shape), and scoring inside those lists uses
    asymmetric PQ distance over {_PQ_M}-code words (sim_search_pq's
    shape) instead of full-vector kernels.

    Work per query = |probed lists| x O(M) table lookups — both factors
    of the brute-force cost cut independently: nprobe/K of the corpus
    is touched, and each touched vector costs 4 adds, not a 64-dim
    float kernel. At 100 TB the probed scan reads (cid, 4-byte code)
    rows — the vectors themselves never leave the quantization pass.
    Production swaps the fixed seed centroids for k-means and encodes
    residuals (vector - centroid) instead of raw vectors; neither
    changes any plan shape.

    Everything is oracle-checked: assignment, probing, codes, and ADC
    tables all reduce to the same bit-exact fold/argmin machinery as
    the component ops. Off-dim vectors are excluded with the NULL ones
    (ragged fuzz, r12): the fine-scoring tier only exists against the
    fixed-dim PQ codebook — emb_pq_quantize's dimension contract.
    ivfpq_search_frame callers own this gate (sim_search_ivfpq_trained
    gates via the kmeans-eligible set, which pins the same dim).
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        # not clusterable, not searchable; not PQ-codable off-dim or
        # with missing features (ragged + holes fuzz, r12)
        F.col("embedding").isNotNull()
        & (F.size("embedding") == _PQ_M * _PQ_SUB)
        & ~F.exists("embedding", lambda y: y.isNull())
    )
    cent = e.filter(
        (F.col("vec_id") >= CENT_LO) & (F.col("vec_id") < CENT_LO + N_CENTROIDS)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cent_emb"))
    return ivfpq_search_frame(e, cent)


def ivfpq_search_frame(
    e: DataFrame,
    cent: DataFrame,
    n_probe: int = N_PROBE,
    n_queries: int = N_QUERIES,
    n_super: int | None = None,
    super_cent: DataFrame | None = None,
) -> DataFrame:
    """sim_search_ivfpq's body over an ARBITRARY coarse-quantizer
    relation (cid, cent_emb) — the scaled-K production entry point
    (same contract as ivf_search_frame, including the ``n_super``
    two-tier assignment cascade; the PQ codebooks are per-SUBSPACE
    artifacts independent of K, so only the coarse assign/probe tier
    changes with corpus size). Its scaled-K measurements are in the
    SCALE.md ladder."""
    if n_super is None and super_cent is None:
        w_assign = Window.partitionBy("vec_id").orderBy(
            F.col("cos_c").desc(), "cid"
        )
        ranked = (
            e.join(F.broadcast(cent))
            .withColumn("cos_c", _cosine(F.col("embedding"), F.col("cent_emb")))
            .withColumn("rkc", F.row_number().over(w_assign))
        )
        assign = ranked.filter(F.col("rkc") == 1)
        probe_src = ranked
    else:
        assign = _hier_assign(e, cent, n_super, super_cent=super_cent)
        wq = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), "cid")
        probe_src = (
            e.filter(F.col("vec_id") < n_queries)
            .join(F.broadcast(cent))
            .withColumn("cos_c", _cosine(F.col("embedding"), F.col("cent_emb")))
            .withColumn("rkc", F.row_number().over(wq))
        )
    corpus = (
        assign.filter(F.col("vec_id") >= n_queries)
        .select(
            "vec_id",
            "cid",
            *[
                F.expr(
                    f"array_position({_pq_spark_dists(m, _PQ_CENTS[m])}, "
                    f"array_min({_pq_spark_dists(m, _PQ_CENTS[m])}))"
                ).alias(f"k{m}")
                for m in range(_PQ_M)
            ],
        )
    )
    probes = (
        probe_src.filter((F.col("vec_id") < n_queries) & (F.col("rkc") <= n_probe))
        .select(
            F.col("vec_id").alias("query_id"),
            "cid",
            *[
                F.expr(_pq_spark_dists(m, _PQ_CENTS[m])).alias(f"t{m}")
                for m in range(_PQ_M)
            ],
        )
    )
    scored = corpus.join(F.broadcast(probes), "cid")
    dist = F.element_at(F.col("t0"), F.col("k0").cast("int"))
    for m in range(1, _PQ_M):
        dist = dist + F.element_at(F.col(f"t{m}"), F.col(f"k{m}").cast("int"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("neighbor_id"))
    return (
        scored.withColumn("adc_dist", dist)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_dist")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _ADC_K)
    )


# --- embedding-column profiling ---------------------------------------


@register(
    "emb_norm_stats",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label,
             CASE WHEN embedding IS NULL THEN NULL
                  ELSE {_sql_norm("embedding")} END AS l2,
             len(embedding) AS dim,
             len(list_filter(embedding, x -> x = 0)) AS n_zero,
             embedding IS NULL AS is_null,
             CASE WHEN embedding IS NULL THEN NULL
                  ELSE list_bool_or(list_transform(embedding,
                         y -> y IS NULL)) END AS has_hole
      FROM embeddings)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_vectors,
           CAST(SUM(CASE WHEN has_hole THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hole_vectors,
           CAST(MIN(dim) AS BIGINT) AS min_dim,
           CAST(MAX(dim) AS BIGINT) AS max_dim,
           MIN(l2) AS min_norm,
           MAX(l2) AS max_norm,
           CASE WHEN MAX(CASE WHEN l2 IS NOT NULL AND (isnan(l2) OR l2 >= 9e12)
                         THEN 1 ELSE 0 END) = 1
                THEN CAST('NaN' AS DOUBLE)
                ELSE {sql_ddouble("SUM(CASE WHEN NOT isnan(l2) AND l2 < 9e12 THEN CAST(FLOOR(l2 * 1000000) AS HUGEINT) END)")} / 1000000.0
                  / COUNT(l2)
           END AS mean_norm,
           CAST(SUM(CASE WHEN n_zero = dim THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_vectors
    FROM n GROUP BY label ORDER BY label
    """,
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column health profile per label: vector counts,
    dimension min/max (schema-drift detector), L2-norm min/max/mean,
    and all-zero vector count — the sanity pass run before any
    ANN/dedup job (zero vectors break cosine; norm outliers flag
    truncated or unnormalized batches; mixed dims flag a bad writer).

    Norms use the same sequential-fold kernel as every similarity op
    (bit-identical cross-engine); the mean goes through floor-scaled
    integer summation so partial-aggregation order can't perturb it.
    One scan, one hash agg — the profile of a 100 TB embedding table
    costs one pass with map-side partials.
    """
    e = load_table(spark, sf_dir, "embeddings")
    l2 = F.sqrt(
        F.aggregate(
            F.col("embedding"), F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    n = e.select(
        "label",
        l2.alias("l2"),
        F.size("embedding").alias("dim"),
        F.col("embedding").isNull().alias("is_null"),
        # a NULL ELEMENT inside a non-null vector — the missing-
        # feature writer (holes fuzz, r12). Counted as its own
        # phenomenon: such vectors have NULL l2 (the fold propagates)
        # so they silently vanish from the norm stats on both engines;
        # the profile's job is to SURFACE them. NB: l2 IS NULL is NOT
        # a proxy for embedding IS NULL once holes exist — the old
        # proxy counted hole-vectors as null vectors while the oracle
        # counted embedding IS NULL, the class's first find.
        F.exists("embedding", lambda x: x.isNull()).alias("has_hole"),
        (
            F.size(F.filter(F.col("embedding"), lambda x: x == 0)) == F.size("embedding")
        ).alias("all_zero"),
    )
    return (
        n.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            # NULL embeddings (a schema violation the profile must
            # SURFACE, not mask): counted explicitly, excluded from
            # the norm/dim stats — l2 and dim are NULL for them, and
            # min/max/sum skip NULLs identically in both engines; the
            # mean divides by the non-null count.
            F.sum(F.when(F.col("is_null"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_vectors"),
            F.sum(F.when(F.col("has_hole"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hole_vectors"),
            F.min("dim").cast("bigint").alias("min_dim"),
            F.max("dim").cast("bigint").alias("max_dim"),
            F.min("l2").alias("min_norm"),
            F.max("l2").alias("max_norm"),
            # corrupt vectors (NaN/Inf elements -> NaN/Inf norms)
            # poison the mean; min/max keep the engines' shared
            # NaN-greatest ordering so they stay comparable.
            F.when(
                F.max(
                    F.when(
                        F.col("l2").isNotNull()
                        & (F.isnan("l2") | (F.col("l2") >= F.lit(9e12))),
                        1,
                    ).otherwise(0)
                )
                == 1,
                F.lit(float("nan")),
            )
            .otherwise(
                ddouble(
                    F.sum(
                        F.when(
                            ~F.isnan("l2") & (F.col("l2") < F.lit(9e12)),
                            F.floor(F.col("l2") * 1000000),
                        ).cast("decimal(38,0)")
                    )
                )
                / F.lit(1000000.0) / F.count("l2")
            )
            .alias("mean_norm"),
            F.sum(F.when(F.col("all_zero"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero_vectors"),
        )
        .orderBy("label")
    )


# --- ANN index evaluation (recall@k vs exact) -------------------------


def _recall_oracle() -> str:
    lsh_body = _lsh_oracle().strip()
    # strip the leading WITH so both chains share one WITH clause
    cut = lsh_body.rindex("SELECT query_id")  # the final projection, not scored's
    lsh_ctes = lsh_body[len("WITH "):cut].rstrip().rstrip(",")
    lsh_select = lsh_body[cut:]
    return f"""
    WITH {lsh_ctes},
    approx AS ({lsh_select}),
    exact_scored AS (
      SELECT q.vec_id AS query_id, cc.vec_id AS neighbor_id,
             {_sql_dot("q.embedding", "cc.embedding")} /
               ({_sql_norm("q.embedding")} * {_sql_norm("cc.embedding")}) AS cosine
      FROM embeddings q JOIN embeddings cc
        ON q.vec_id < {N_QUERIES} AND q.vec_id <> cc.vec_id
       AND q.embedding IS NOT NULL AND cc.embedding IS NOT NULL
    ),
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rk
        FROM exact_scored) t
      WHERE rk <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_k
    FROM exact_topk e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """


@register("sim_eval_recall", oracle=_recall_oracle())
def sim_eval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index evaluation: recall@k of the sign-LSH index against
    the exact brute-force top-k, per query — the acceptance metric
    every production ANN deployment tracks (an index is only "done"
    when measured recall at the target latency is known). Registered
    as a first-class operator so the evaluation itself is distributed
    and oracle-checked, not a notebook afterthought.

    Composes the two existing search ops and joins their results on
    (query, neighbor); the exact side defines the denominator. At
    100 TB the exact baseline runs on a sampled query set (it is the
    expensive side by construction) — the join/aggregate shape is
    unchanged.
    """
    exact = sim_search_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = sim_search_lsh(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.count("a_nid").cast("bigint").alias("n_hit"),
            (F.count("a_nid").cast("double") / F.count(F.lit(1))).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


# --- k-means training (Lloyd's algorithm, integer-exact) --------------
#
# The coarse-quantizer trainer sim_search_ivf/_ivfpq document as their
# production input ("k-means centroids from a sampled training pass").
# Three unrolled Lloyd iterations over the corpus, bit-identical
# across engines because every step is integer arithmetic:
#
#   * vectors quantize ONCE to xq[d] = floor(x * 2^14) (power-of-two
#     scale: the multiply is float-exact, floor is exact);
#   * distances are exact integer sums  sum_d (xq[d] - cq[d])^2 —
#     order-independent, so partial aggregation order cannot matter;
#   * new centroids are integer means at the same scale via a
#     sign-safe offset floor-division (truncation == floor once the
#     numerator is made non-negative; Spark `div` truncates while
#     DuckDB `//` floors, so negative sums would otherwise diverge —
#     the same trap agg_bitmap_distinct's chunking hit in r4);
#   * a cluster that loses all members drops out of the next round in
#     BOTH engines (its mean row simply doesn't group).
#
# Domain (int64 headroom): |element| < 2^10 keeps xq in 2^24, squared
# diffs in 2^50, the 64-dim distance sum in 2^56 and per-(cid, dim)
# coordinate sums safe for corpora to ~2^33 vectors; production
# upgrades the two sums to DECIMAL(38,0) unchanged. Vectors with a
# NaN / Inf / out-of-domain ELEMENT are excluded whole, like NULL
# vectors (the sim_search_bcast_index finite-vector contract —
# floor() of NaN is int64 garbage, a silent wrong cluster).
_KM_K = 8
_KM_ITERS = 3
_KM_Q = float(2**14)
_KM_DOM = 1024.0  # |element| bound: 2^10
_KM_OFF = 2**25   # makes every mean numerator non-negative
_KM_DIM = 64


def _km_sql_iter(i: int) -> str:
    """One Lloyd round: assign to nearest centroid (integer distance,
    (dist, cid) tiebreak), then per-(cid, dim) integer mean."""
    return f"""
    a{i} AS (
      SELECT vec_id, xq, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      FROM (
        SELECT e.vec_id, e.xq, c.cid,
               list_sum(list_transform(generate_series(1, {_KM_DIM}),
                 j -> (e.xq[j] - c.cq[j]) * (e.xq[j] - c.cq[j]))) AS dist
        FROM eq e CROSS JOIN c{i - 1} c) t),
    m{i} AS (
      SELECT cid, d,
             CAST((SUM(xq[d]) + COUNT(*) * {_KM_OFF}) // COUNT(*)
                  - {_KM_OFF} AS BIGINT) AS cq1,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM a{i} CROSS JOIN (SELECT unnest(generate_series(1, {_KM_DIM})) AS d) dims
      WHERE rk = 1
      GROUP BY cid, d),
    c{i} AS (
      SELECT cid, list(cq1 ORDER BY d) AS cq, MAX(n) AS n
      FROM m{i} GROUP BY cid)
    """


# The eligible-vector predicate and the unrolled Lloyd rounds, shared
# verbatim by the emb_kmeans_train oracle and the chained
# emb_semdedup_trained oracle (which consumes c{_KM_ITERS} as its
# centroid relation) — one source of truth for the training CTEs.
_KM_ELIGIBLE_SQL = f"""
      vec_id IS NOT NULL AND embedding IS NOT NULL
        AND len(embedding) = {_KM_DIM}
        AND NOT list_bool_or(list_transform(embedding,
              y -> y IS NULL
                   OR isnan(CAST(y AS DOUBLE))
                   OR abs(CAST(y AS DOUBLE)) >= {_KM_DOM!r}))"""

_KM_CTES = f"""eq AS (
      SELECT vec_id,
             list_transform(embedding,
               y -> CAST(FLOOR(CAST(y AS DOUBLE) * {_KM_Q}) AS BIGINT)) AS xq
      FROM embeddings
      WHERE {_KM_ELIGIBLE_SQL}),
    c0 AS (
      SELECT vec_id AS cid, xq AS cq FROM eq WHERE vec_id < {_KM_K}),
    {", ".join(_km_sql_iter(i) for i in range(1, _KM_ITERS + 1))}"""


@register(
    "emb_kmeans_train",
    oracle=f"""
    WITH {_KM_CTES}
    SELECT c.cid, dims.d, c.cq[dims.d] AS c_q, c.n AS n_members
    FROM c{_KM_ITERS} c
    CROSS JOIN (SELECT unnest(generate_series(1, {_KM_DIM})) AS d) dims
    ORDER BY c.cid, dims.d
    """,
)
def emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means training (Lloyd's): 3 unrolled iterations of
    assign-to-nearest + per-cluster integer mean over the embedding
    corpus, emitting each surviving centroid's 64 quantized
    coordinates and member count — the training pass that feeds
    sim_search_ivf / sim_search_ivfpq their coarse quantizer.

    Every iteration is ONE broadcast join of the corpus against the
    K-row centroid relation (the corpus never shuffles for
    assignment), a per-vector argmin via a (dist, cid)-ordered rank
    window partitioned by vec_id, then a posexplode + (cid, dim) hash
    aggregate — 64*K cells — whose integer means become the next
    round's centroid relation. The iterative-numeric determinism
    story is graph_pagerank's, upgraded: distances AND centroids stay
    exact integers end-to-end (see the derivation above), so three
    rounds of floating-point-free Lloyd's hash-match the oracle's
    unrolled CTEs bit-for-bit.

    Scale shape: per round, corpus-linear narrow work + one exchange
    of |corpus| (vec_id, cid) assignments into a 64*K-cell aggregate;
    centroids are always a broadcast literal-sized relation. At
    production K (~sqrt(corpus)), swap the crossJoin argmin for the
    IVF probe cascade — the update side is unchanged.
    """
    cent = _kmeans_centroids(spark, sf_dir)
    return cent.select(
        "cid", F.posexplode("cq").alias("d0", "c_q"), F.col("n").alias("n_members")
    ).select(
        "cid", (F.col("d0") + 1).cast("bigint").alias("d"), "c_q", "n_members"
    ).orderBy("cid", "d")


def _km_eligible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means-eligible vector set (the Spark twin of
    ``_KM_ELIGIBLE_SQL``): non-null, exactly ``_KM_DIM`` wide, every
    element PRESENT (non-NULL), finite, and inside the integer-headroom
    domain. The explicit ``y IS NULL`` leg matters doubly (holes fuzz,
    r12): a missing feature is not trainable, AND without it the two
    engines silently disagree on the eligible set itself — Spark's
    EXISTS over a hole-vector returns NULL (no true, some null), so
    ``~exists`` drops the row, while DuckDB's list_bool_or IGNORES
    null elements and keeps it. The eligible-set contract feeds every
    trained chain, so that asymmetry diverged four keys at once."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == _KM_DIM)
        & ~F.exists(
            "embedding",
            lambda y: y.isNull()
            | F.isnan(y.cast("double"))
            | (F.abs(y.cast("double")) >= F.lit(_KM_DOM)),
        )
    )


def _kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained centroid relation after ``_KM_ITERS`` Lloyd rounds:
    (cid, cq: array<long>, n: bigint) — the un-exploded form
    emb_kmeans_train emits and emb_semdedup_trained consumes. Plan
    shape per round is documented on emb_kmeans_train."""
    # scan_parallel (r13): all three rounds' distance argmins (K x dim
    # integer math per vector) hang off this relation's scan stage,
    # which the single-row-group testdata pins to one task; the
    # repartition exchange is also the subtree every round's
    # assignment shares (reused once, like the round windows).
    # Adaptive no-op on any splittable production layout.
    e = scan_parallel(_km_eligible(spark, sf_dir), "vec_id")
    eq = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda y: F.floor(y.cast("double") * F.lit(_KM_Q)).cast("long"),
        ).alias("xq"),
    )
    cent = eq.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("xq").alias("cq")
    )
    # checkpoint_rounds=False keeps the oracled key's fully-unrolled
    # plan (the plan guard pins it; the oracle's CTEs mirror it)
    return kmeans_train_frame(eq, cent, checkpoint_rounds=False)


def _sqdist(a, b) -> Column:
    """Exact integer squared distance between two quantized vectors —
    order-independent, the emb_kmeans_train determinism contract."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _hier_assign_sq(
    eq: DataFrame,
    cent: DataFrame,
    n_super: int | None,
    super_cent: DataFrame | None = None,
) -> DataFrame:
    """:func:`_hier_assign`'s integer-distance twin for the k-means
    UPDATE loop: two-tier argmin over quantized vectors (xq) and
    centroids (cq), per-vector work S + K/S instead of K. Same
    IMI-style approximation contract (n_super=1 degenerates to the
    exact flat argmin — pytest-pinned); ties break (dist, cid/sid)
    like the flat path. ``super_cent`` (sid, sq) overrides the
    first-S-by-cid default with trained super-centroids — see
    :func:`_hier_assign`'s occupancy note, and its CONSERVATION note
    for why the vector rank is restricted to supers that own at least
    one centroid (ADVICE r11: the inner vsel⋈cmap join would drop
    vectors whose nearest super has an empty cell).
    Emits (vec_id, xq, cid)."""
    if super_cent is not None:
        sup = super_cent.select("sid", "sq")
    else:
        sup = (
            cent.orderBy("cid")
            .limit(n_super)
            .select(F.col("cid").alias("sid"), F.col("cq").alias("sq"))
        )
    wc = Window.partitionBy("cid").orderBy("ds", "sid")
    cmap = (
        cent.crossJoin(F.broadcast(sup))
        .withColumn("ds", _sqdist(F.col("cq"), F.col("sq")))
        .withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") == 1)
        .select("cid", "cq", "sid")
    )
    sup_live = sup.join(cmap.select("sid"), "sid", "left_semi")
    wv = Window.partitionBy("vec_id").orderBy("ds", "sid")
    vsel = (
        eq.crossJoin(F.broadcast(sup_live))
        .withColumn("ds", _sqdist(F.col("xq"), F.col("sq")))
        .withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("vec_id", "xq", "sid")
    )
    wa = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        vsel.join(F.broadcast(cmap), "sid")
        .withColumn("dist", _sqdist(F.col("xq"), F.col("cq")))
        .withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
        .select("vec_id", "xq", "cid")
    )


def kmeans_train_frame(
    eq: DataFrame,
    init_cent: DataFrame,
    n_iters: int = _KM_ITERS,
    n_super: int | None = None,
    checkpoint_rounds: bool = True,
    super_cent: DataFrame | None = None,
) -> DataFrame:
    """Distributed Lloyd's over ARBITRARY pre-quantized vectors
    (vec_id, xq: array<long>) and initial centroids (cid, cq) — the
    production trainer the registered emb_kmeans_train stands in for,
    with the two knobs production needs:

    * ``n_super``: two-tier (IMI-style) ASSIGNMENT cascade — the swap
      emb_kmeans_train's docstring promises at production K
      (K ~ sqrt(n) makes the flat broadcast argmin n*K ~ n^1.5; the
      r10 annladder measured that exact failure on the search side,
      exponent 1.09 flat vs 0.39 two-tier). The update side (integer
      per-(cid, dim) means) is unchanged, as documented. n_super=1
      degenerates to the exact flat argmin (pytest-pinned); at
      n_super > 1 assignment is approximate in the standard ANN-
      k-means sense, and the integer-mean update keeps every round
      deterministic regardless.
    * ``checkpoint_rounds``: localCheckpoint each round's K-row
      centroid relation, so arbitrary n_iters doesn't build an
      n_iters-deep unrolled plan and the two references per round
      (group map + candidates) compute training once. The registered
      key passes False to keep its oracle-mirrored unrolled plan.

    Sizing: when the trained centroids feed cluster-scoped near-dup
    search (:func:`semdedup_frame`), K comes from
    :func:`recommended_k` — K ~ n, NOT the IVF-search K ~ sqrt(n)
    (the r11 ladder measured the confusion at exponent 0.82 vs 0.60;
    SCALE.md r11).

    Returns (cid, cq: array<long>, n: bigint). Callers quantize ONCE
    with floor(x * 2^14) under the emb_kmeans_train domain contract
    (|element| < 2^10, NaN/Inf-free) — see that docstring for the
    int64-headroom derivation."""
    cent = init_cent.select("cid", "cq")
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    for _ in range(n_iters):
        if n_super is None and super_cent is None:
            assigned = (
                eq.crossJoin(F.broadcast(cent.select("cid", "cq")))
                .withColumn("dist", _sqdist(F.col("xq"), F.col("cq")))
                .withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1)
            )
        else:
            assigned = _hier_assign_sq(
                eq, cent.select("cid", "cq"), n_super, super_cent=super_cent
            )
        cells = (
            assigned.select("cid", F.posexplode("xq").alias("d0", "x"))
            .groupBy("cid", F.col("d0"))
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n"))
            .select(
                "cid",
                (F.col("d0") + 1).alias("d"),
                F.expr(f"(s + n * {_KM_OFF}) div n - {_KM_OFF}")
                .cast("long")
                .alias("cq1"),
                "n",
            )
        )
        cent = cells.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "cq1"))),
                lambda st: st.cq1,
            ).alias("cq"),
            F.max("n").alias("n"),
        )
        if checkpoint_rounds:
            cent = cent.localCheckpoint(eager=False)
    return cent


def train_super_centroids(
    cent: DataFrame, n_super: int, n_iters: int = 2
) -> DataFrame:
    """K-means the CENTROIDS (VERDICT r10 item 5): a K-row (tiny)
    Lloyd's run over the centroid relation (cid, cq) whose output
    becomes the ``super_cent`` relation for the two-tier assignment
    cascade — replacing the first-S-by-cid default, whose worst-case
    super-group occupancy is unbounded, with supers that sit where
    the centroids actually cluster, making the S + K/S work bound
    structural (occupancy spread measured in SCALE.md r11).

    Cost: the input has K rows, so training is K x S integer
    distances per round for ``n_iters`` (default 2) rounds — noise
    next to one corpus assignment pass. The trained relation is
    localCheckpointed by kmeans_train_frame's round checkpointing, so
    its two downstream references (centroid group map + vector
    super-assign) reuse one computation. Returns (sid, sq: the
    integer super-centroid, sup_emb: the same as double) — the
    columns :func:`_hier_assign_sq` (sq) and :func:`_hier_assign`
    (sup_emb) each select. Conservation under these supers (no vector
    dropped even when a trained super's Voronoi cell is empty) is the
    assign-tier contract — see the non-empty-super rank note on
    :func:`_hier_assign` (ADVICE r11).

    Seeding is COORDINATE-based, not id-based: deterministic
    farthest-point traversal (greedy k-center — start at the point
    farthest from the coordinate-wise mean, then repeatedly take the
    point maximizing min-distance to the chosen set; ties break by
    cid). Seeding from the first S cids (the default supers' rule)
    defeats the whole point: an adversarial cid layout putting a
    tight clump at the low ids hands Lloyd's clumped seeds it cannot
    escape, and a 1-D distance-to-mean stride collapses on
    near-orthogonal data where that projection is ~constant (both
    measured — SCALE.md r11; farthest-point holds the spread at the
    natural layout's level under the adversarial relabeling, because
    it never takes a second clump member while spread points remain).
    The traversal is a bounded driver decision over the K-row
    centroid relation (the nb_score_frame collect idiom — S scans of
    K x dim numpy, trivial at any real K); everything after is the
    integer-exact distributed trainer. With n_super=1 the single
    seed trains to one all-member super, so the cascade stays pinned
    equal to the flat argmin."""
    import numpy as np

    rows = sorted(cent.select("cid", "cq").collect(), key=lambda r: r.cid)
    if not rows:
        raise ValueError("train_super_centroids: empty centroid relation")
    x = np.asarray([r.cq for r in rows], dtype=np.float64)
    start = int(np.argmax(((x - x.mean(axis=0)) ** 2).sum(axis=1)))
    chosen = [start]
    mind = ((x - x[start]) ** 2).sum(axis=1)
    while len(chosen) < min(n_super, len(rows)):
        if mind.max() == 0.0:
            # every remaining point coincides with the chosen set
            # (duplicate centroid coordinates; n_super > distinct
            # coordinates) — argmax over all-zero mind would re-pick
            # index 0 and emit duplicate (cid, cq) init rows
            # (ADVICE r11). Fewer distinct supers than requested is
            # the correct answer here.
            break
        nxt = int(np.argmax(mind))  # ties: first index = smallest cid
        chosen.append(nxt)
        mind = np.minimum(mind, ((x - x[nxt]) ** 2).sum(axis=1))
    spark = cent.sparkSession
    init = spark.createDataFrame(
        [(rows[i].cid, list(rows[i].cq)) for i in sorted(chosen)],
        "cid bigint, cq array<bigint>",
    )
    eqc = cent.select(F.col("cid").alias("vec_id"), F.col("cq").alias("xq"))
    trained = kmeans_train_frame(eqc, init, n_iters=n_iters)
    return trained.select(
        F.col("cid").alias("sid"),
        F.col("cq").alias("sq"),
        F.transform("cq", lambda x: x.cast("double")).alias("sup_emb"),
    )


# --- SemDeDup: embedding-cluster-scoped near-duplicate removal --------

_SD_TAU = 0.3  # near-dup cosine threshold. The synthetic embeddings
# are near-orthogonal (max pairwise cosine ~0.51, p99 ~0.29 at
# sf0.01), so real-corpus thresholds like 0.85 would never fire and
# the drop branch would go untested; 0.3 drops a real few-percent
# tail in every cluster while keeping most of the corpus.


@register(
    "emb_semdedup",
    oracle=f"""
    WITH fe AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND NOT list_bool_or(list_transform(embedding,
              y -> isnan(CAST(y AS DOUBLE)) OR isinf(CAST(y AS DOUBLE))))
        AND {_sql_norm("embedding")} > 0),
    cent AS (
      SELECT vec_id AS cid, embedding AS cent_emb FROM fe
      WHERE vec_id >= {CENT_LO} AND vec_id < {CENT_LO + N_CENTROIDS}),
    ranked AS (
      SELECT vec_id, embedding, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_c DESC, cid) AS rkc
      FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               {_sql_cos("e.embedding", "c.cent_emb")} AS cos_c
        FROM fe e CROSS JOIN cent c) t),
    assign AS (
      SELECT vec_id, embedding, cid FROM ranked WHERE rkc = 1),
    dropped AS (
      SELECT b.vec_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
       AND {_sql_cos("a.embedding", "b.embedding")} >= {_SD_TAU}
      GROUP BY b.vec_id)
    SELECT s.cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) FILTER (d.vec_id IS NULL) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (d.vec_id IS NOT NULL) AS BIGINT) AS n_dropped
    FROM assign s LEFT JOIN dropped d ON d.vec_id = s.vec_id
    GROUP BY s.cid ORDER BY s.cid
    """,
)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): the
    corpus is partitioned into embedding clusters, near-duplicate
    pairs (cosine >= tau) are searched ONLY within a cluster, and a
    vector b is dropped iff SOME a < b in its cluster has
    cos(a, b) >= tau — emitting the per-cluster members/kept/dropped
    ledger. Note this is the pairwise-drop rule, not
    one-representative-per-connected-group: in a chain 1~2, 2~3
    (1!~3), vector 3 is dropped because of neighbor 2 even though 2
    was itself dropped (chain-collapse). That matches SemDeDup's
    within-cluster filtering and is cheaper than a transitive-closure
    pass; the CC-based alternative is dedup_cc_survivors. This is the scalable
    recipe for embedding-level dedup at corpus scale: clustering cuts
    the pair search from O(n^2) to sum-over-clusters O(n_c^2).

    Cluster assignment reuses sim_search_ivf's deterministic seed
    centroids (production swaps in emb_kmeans_train output without
    changing any plan shape — the assignment sub-plan is identical).
    A vector with a NaN/Inf element or zero norm is excluded like a
    NULL vector: its cosine is NaN, which the two engines ORDER
    DIFFERENTLY around a threshold (Spark: comparisons with NaN are
    false; DuckDB: NaN sorts greatest) — exclusion is the one
    cross-engine-stable contract.

    Scale shape: assignment is one K-row broadcast join + per-vector
    argmin (WindowGroupLimit); the dedup join is an equi-join on cid
    whose fan-out is bounded by cluster size (with trained, balanced
    centroids: ~(n/K)^2 per cluster, the SemDeDup trade); the
    drop-side survivor test is a cid-local pair emission aggregated
    to distinct losers, and the ledger is a 16-row aggregate. The
    corpus shuffles once, on cid. The (n/K)^2 pair term means the
    FIXED-K registry key is superlinear under corpus growth by
    construction (r9 ladder: exponent 1.15 over sf0.1->sf1) — the
    production path is :func:`semdedup_frame` with trained centroids
    scaled K ~ n, which holds cluster size (and the exponent) flat.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & ~F.exists(
            "embedding",
            lambda y: F.isnan(y.cast("double"))
            | (F.abs(y.cast("double")) == F.lit(float("inf"))),
        )
    )
    norm2 = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    fe = e.filter(norm2 > 0).select("vec_id", "embedding")
    cent = fe.filter(
        (F.col("vec_id") >= CENT_LO) & (F.col("vec_id") < CENT_LO + N_CENTROIDS)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cent_emb"))
    return semdedup_frame(fe, cent)


def recommended_k(n_vectors: int, target_cluster_size: int = 1024) -> int:
    """The load-bearing K-sizing rule for cluster-scoped near-dup
    search, as CODE the caller hits instead of SCALE.md prose
    (VERDICT r11 item 3): ``K = ceil(n_vectors / target_cluster_size)``
    — K proportional to n, holding expected cluster size n/K constant.

    Why linear and not sqrt: :func:`semdedup_frame`'s pair term is
    sum-over-clusters O(n_c^2) = (n/K)^2 * K = n^2 / K, flat in n only
    at K ~ n. The r11 growth ladder measured BOTH sizings on the full
    trained chain (train + assign + pairs, sf0.1 -> sf1, SCALE.md r11):
    the misapplied K ~ sqrt(n) rule — correct for IVF SEARCH, where
    per-query work is K + n*nprobe/K, but wrong here — left a residual
    n^1.5/sqrt(n) ~ n pair term per cluster and measured exponent
    0.82; K ~ n measured 0.60 end-to-end. SemDeDup's own protocol is
    this rule (50k clusters for LAION-440M ~ 8.8k vectors/cluster);
    the default target keeps the per-cluster pair join comfortably
    inside one task (~1M cosine pairs at 1024 members).

    The companion sizings stay where they belong: the assignment tier
    at this K runs the two-tier cascade with S ~ sqrt(K)
    (``n_super=int(K**0.5)``), and IVF/IVF-PQ SEARCH keys keep
    K ~ sqrt(n) with nprobe/K fixed — see ivf_search_frame."""
    if n_vectors < 0:
        raise ValueError(f"n_vectors must be >= 0, got {n_vectors}")
    if target_cluster_size <= 0:
        raise ValueError(
            f"target_cluster_size must be > 0, got {target_cluster_size}"
        )
    return max(1, -(-n_vectors // target_cluster_size))


def semdedup_frame(
    vectors: DataFrame,
    centroids: DataFrame,
    tau: float = _SD_TAU,
    n_super: int | None = None,
    super_cent: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup over arbitrary ``vectors`` (vec_id, embedding —
    already validity-filtered) and caller-supplied ``centroids``
    (cid, cent_emb) — the entry point that makes the op's scale
    contract USABLE. The within-cluster pair term is
    sum-over-clusters O(n_c^2): with the cluster COUNT held fixed it
    grows quadratically in corpus size — the r9 key-growth ladder
    measured the fixed-K=16 registry key at exponent 1.15 over
    sf0.1->sf1 (4.2 s -> 59.6 s), the pair term visibly taking over —
    so production MUST scale K with n to hold n_c = n/K constant
    (SemDeDup's own protocol: 50k clusters for LAION). This frame
    entry point is where that happens: pass emb_kmeans_train output
    (or any centroid set) sized K ~ n/target_cluster_size —
    :func:`recommended_k` IS that rule (ceil(n/target), with the r11
    ladder numbers for why sqrt-sizing is the wrong rule here); the
    registry key keeps the fixed 16 seed centroids so its oracle
    stays byte-stable. Plan shape is identical either way: broadcast
    K-row centroid join + per-vector argmin, one cid shuffle, cid
    equi-join bounded by cluster size. At scaled K the flat argmin is
    the n*K assign-tier disease the r10 annladder measured — pass
    ``n_super`` / ``super_cent`` to run assignment through the
    two-tier cascade (:func:`_hier_assign`), same contracts as
    ivf_search_frame's knobs (n_super=1 pinned equal to flat).

    OPTIMIZATION_r13 (guide §2.3/§5): vector norms fold once per ROW
    — on the vector side before the centroid broadcast and carried
    into the pair tier — instead of once per (vector, centroid) and
    twice per candidate pair (dot/(na*nb) over the same doubles is
    bit-identical to _cosine; see _vnorm); the vector side is
    scan_parallel'd (per-row fold CPU on a single-row-group scan
    otherwise runs one-task); and the assign relation — consumed by
    THREE subtrees (ledger base + both pair sides), each of which
    replayed the crossJoin+argmin under lineage — localCheckpoints
    once (corpus-row-sized: id, embedding, cid, norm). A/B at sf0.1:
    4.64 s -> 2.78 s, ledger bit-identical."""
    if n_super is None and super_cent is None:
        vecs = scan_parallel(vectors, "vec_id").select(
            "vec_id", "embedding", _vnorm(F.col("embedding")).alias("nrm")
        )
        cents = centroids.select(
            "cid", "cent_emb", _vnorm(F.col("cent_emb")).alias("cnrm")
        )
        ac = vecs.crossJoin(F.broadcast(cents)).withColumn(
            "cos_c",
            _vdot(F.col("embedding"), F.col("cent_emb"))
            / (F.col("nrm") * F.col("cnrm")),
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), "cid")
        assign = (
            ac.withColumn("rkc", F.row_number().over(w))
            .filter(F.col("rkc") == 1)
            .select("vec_id", "embedding", "cid", "nrm")
        )
    else:
        assign = _hier_assign(
            vectors.select("vec_id", "embedding"),
            centroids,
            n_super,
            super_cent=super_cent,
        ).withColumn("nrm", _vnorm(F.col("embedding")))
    assign = assign.localCheckpoint()
    a = assign.select(
        F.col("cid"), F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"), F.col("nrm").alias("norm_a"),
    )
    b = assign.select(
        F.col("cid"), F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"), F.col("nrm").alias("norm_b"),
    )
    dropped = (
        a.join(b, ["cid"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            _vdot(F.col("emb_a"), F.col("emb_b"))
            / (F.col("norm_a") * F.col("norm_b"))
            >= F.lit(tau)
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assign.join(dropped.withColumn("is_dup", F.lit(1)), "vec_id", "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.count(F.when(F.col("is_dup").isNull(), 1)).cast("bigint").alias("n_kept"),
            F.count("is_dup").cast("bigint").alias("n_dropped"),
        )
        .orderBy("cid")
    )


@register(
    "emb_semdedup_trained",
    oracle=f"""
    WITH {_KM_CTES},
    tc AS (
      SELECT cid, list_transform(cq, x -> CAST(x AS DOUBLE)) AS cent_emb
      FROM c{_KM_ITERS}
      WHERE {_sql_norm("cq")} > 0),
    fe AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_KM_ELIGIBLE_SQL}
        AND {_sql_norm("embedding")} > 0),
    ranked AS (
      SELECT vec_id, embedding, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_c DESC, cid) AS rkc
      FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               {_sql_cos("e.embedding", "c.cent_emb")} AS cos_c
        FROM fe e CROSS JOIN tc c) t),
    assign AS (
      SELECT vec_id, embedding, cid FROM ranked WHERE rkc = 1),
    dropped AS (
      SELECT b.vec_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
       AND {_sql_cos("a.embedding", "b.embedding")} >= {_SD_TAU}
      GROUP BY b.vec_id)
    SELECT s.cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) FILTER (d.vec_id IS NULL) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (d.vec_id IS NOT NULL) AS BIGINT) AS n_dropped
    FROM assign s LEFT JOIN dropped d ON d.vec_id = s.vec_id
    GROUP BY s.cid ORDER BY s.cid
    """,
)
def emb_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION semdedup chain under a driver verdict (VERDICT
    r9 item 3): :func:`semdedup_frame` fed emb_kmeans_train's TRAINED
    centroids instead of emb_semdedup's fixed seed rows — train the
    coarse quantizer, then cluster-scope the near-dup search with it,
    exactly the two-step recipe both ops document as each other's
    production input. Both halves are individually oracled and
    deterministic (integer-exact Lloyd's; sequential-fold cosine), so
    the composition is oracle-expressible by splicing the kmeans CTEs
    (``_KM_CTES``) into the semdedup ledger CTEs.

    Contracts at the seam: the vector set is the kmeans-ELIGIBLE set
    (finite, in-domain, exactly {_KM_DIM}-dim — a vector the trainer
    couldn't see shouldn't be assigned to its centroids) further
    requiring norm > 0 (zero vectors make cosine NaN, which the two
    engines order differently); trained centroids enter as their
    quantized integer coordinates cast to double (cosine is
    scale-invariant, so quantization only perturbs ANGLES, not the
    assignment rule) and a hypothetical all-zero centroid is excluded
    for the same NaN reason. Scale shape is semdedup_frame's
    unchanged: K-row broadcast assign, one cid shuffle, cluster-
    bounded pair join — with trained (balanced) centroids the (n/K)^2
    pair term is at its intended size, and production scales K ~ n
    via this same entry point.
    """
    cent = _kmeans_centroids(spark, sf_dir)
    cnorm2 = F.aggregate(
        "cq", F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    # The trained-centroid relation is referenced THREE times downstream
    # (semdedup_frame's ledger base + both pair-join sides); without
    # persistence each reference re-runs the full 3-round Lloyd's
    # training. localCheckpoint persists the K-row result on first
    # computation, so training runs once per execution — the
    # |K|-bounded intermediate class (dedup_cc precedent).
    tc = (
        cent.filter(cnorm2 > 0)
        .select(
            "cid", F.transform("cq", lambda x: x.cast("double")).alias("cent_emb")
        )
        .localCheckpoint(eager=False)
    )
    norm2 = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )
    fe = (
        _km_eligible(spark, sf_dir)
        .filter(norm2 > 0)
        .select("vec_id", "embedding")
    )
    return semdedup_frame(fe, tc)


@register(
    "sim_search_ivf_trained",
    oracle=f"""
    WITH {_KM_CTES},
    tc AS (
      SELECT cid, list_transform(cq, x -> CAST(x AS DOUBLE)) AS cent_emb
      FROM c{_KM_ITERS}
      WHERE {_sql_norm("cq")} > 0),
    fe AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE {_KM_ELIGIBLE_SQL}
        AND {_sql_norm("embedding")} > 0),
    ranked AS (
      SELECT vec_id, label, embedding, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_c DESC, cid) AS rkc
      FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               {_sql_cos("e.embedding", "c.cent_emb")} AS cos_c
        FROM fe e CROSS JOIN tc c) t),
    assign AS (
      SELECT vec_id, label, embedding, cid FROM ranked WHERE rkc = 1),
    probes AS (
      SELECT vec_id AS query_id, embedding AS q_emb, cid
      FROM ranked WHERE vec_id < {N_QUERIES} AND rkc <= {N_PROBE}),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.label AS neighbor_label,
             {_sql_cos("p.q_emb", "a.embedding")} AS cosine
      FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, neighbor_label, cosine,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= {TOP_K}
    """,
)
def sim_search_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ANN search chain under a driver verdict (VERDICT
    r10 item 2) — the search half of what emb_semdedup_trained did for
    dedup: :func:`ivf_search_frame` fed emb_kmeans_train's TRAINED
    centroids instead of sim_search_ivf's fixed seed rows. Train the
    coarse quantizer, assign the corpus to its lists, probe each
    query's {N_PROBE} nearest lists, exact-rerank — the two-step
    recipe both ops document as each other's production input, now
    oracle-checked end to end by splicing the kmeans CTEs
    (``_KM_CTES``) into the IVF probe CTEs.

    Seam contracts mirror emb_semdedup_trained's: the searchable set
    is the kmeans-ELIGIBLE set (finite, in-domain, exactly
    {_KM_DIM}-dim) further requiring norm > 0 (zero vectors make
    cosine NaN, which the two engines order differently around a
    rank); trained centroids enter as their quantized integer
    coordinates cast to double (cosine is scale-invariant, so
    quantization perturbs only angles, never the ranking rule), any
    all-zero centroid excluded for the same NaN reason. The exact
    flat assignment path (``n_super=None``) keeps the oracle
    expressible; the two-tier production cascade is pinned equal to
    it at n_super=1 and measured on the scaled-K ladder (SCALE.md).

    Scale shape is ivf_search_frame's unchanged: the K-row trained
    centroid relation is localCheckpointed once (training runs once
    across the assign and probe references) and broadcast; the corpus
    never shuffles for assignment; the candidate join is an equi-join
    on cid bounded by probed-list size.
    """
    cent = _kmeans_centroids(spark, sf_dir)
    cnorm2 = F.aggregate(
        "cq", F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    tc = (
        cent.filter(cnorm2 > 0)
        .select(
            "cid", F.transform("cq", lambda x: x.cast("double")).alias("cent_emb")
        )
        .localCheckpoint(eager=False)
    )
    norm2 = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )
    fe = (
        _km_eligible(spark, sf_dir)
        .filter(norm2 > 0)
        .select("vec_id", "label", "embedding")
    )
    return ivf_search_frame(fe, tc)


@register(
    "sim_search_ivfpq_trained",
    oracle=f"""
    WITH {_KM_CTES},
    tc AS (
      SELECT cid, list_transform(cq, x -> CAST(x AS DOUBLE)) AS cent_emb
      FROM c{_KM_ITERS}
      WHERE {_sql_norm("cq")} > 0),
    fe AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_KM_ELIGIBLE_SQL}
        AND {_sql_norm("embedding")} > 0),
    ranked AS (
      SELECT vec_id, embedding, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_c DESC, cid) AS rkc
      FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               {_sql_cos("e.embedding", "c.cent_emb")} AS cos_c
        FROM fe e CROSS JOIN tc c) t),
    corpus AS (
      SELECT r.vec_id, r.cid,
             {", ".join(f"list_position(d{m}, list_min(d{m})) AS k{m}" for m in range(_PQ_M))}
      FROM (
        SELECT vec_id, cid,
               {", ".join(f"{_pq_duck_dists(m, _PQ_CENTS[m])} AS d{m}" for m in range(_PQ_M))}
        FROM ranked WHERE rkc = 1 AND vec_id >= {N_QUERIES}) r),
    probes AS (
      SELECT vec_id AS query_id, cid,
             {", ".join(f"{_pq_duck_dists(m, _PQ_CENTS[m])} AS t{m}" for m in range(_PQ_M))}
      FROM ranked WHERE vec_id < {N_QUERIES} AND rkc <= {N_PROBE}),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {" + ".join(f"p.t{m}[c.k{m}]" for m in range(_PQ_M))} AS adc_dist
      FROM probes p JOIN corpus c ON c.cid = p.cid)
    SELECT query_id, neighbor_id, adc_dist, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= {_ADC_K}
    """,
)
def sim_search_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-quantizer trilogy COMPLETED (VERDICT r11 item 2) —
    the PQ/ADC production path under its own driver verdict, after
    emb_semdedup_trained (r10, the dedup chain) and
    sim_search_ivf_trained (r11, the full-vector search chain):
    :func:`ivfpq_search_frame` fed emb_kmeans_train's TRAINED
    centroids as its coarse quantizer instead of sim_search_ivfpq's
    fixed seed rows. Train the coarse quantizer, assign the corpus to
    its lists, probe each query's {N_PROBE} nearest lists, score
    inside them with asymmetric PQ distance over {_PQ_M}-code words —
    the end-to-end IVF-PQ recipe (Jégou et al.), oracle-checked by
    splicing the kmeans CTEs (``_KM_CTES``) into the IVF-PQ probe/ADC
    CTEs.

    Seam contracts are sim_search_ivf_trained's verbatim: the
    searchable set is the kmeans-ELIGIBLE set further requiring
    norm > 0; trained centroids enter as quantized integers cast to
    double (cosine is scale-invariant); all-zero centroids excluded
    (cosine NaN orders differently across engines). The PQ codebooks
    are per-SUBSPACE artifacts independent of the coarse K, so the
    splice touches only the assign/probe tier — codes, ADC tables,
    and the fixed-order {_PQ_M}-lookup sum are sim_search_ivfpq's
    bit-exact machinery unchanged. The exact flat assignment keeps
    the oracle expressible; the two-tier production cascade stays
    pinned via the n_super=1 and trained-supers degeneracy tests.

    Scale shape is ivfpq_search_frame's unchanged: the K-row trained
    centroid relation is localCheckpointed once (training runs once
    across assign and probe) and broadcast; the corpus never shuffles
    for assignment; the probed scan carries (cid, {_PQ_M} codes), not
    vectors — at 100 TB the fine-scoring tier reads 4-byte codes.
    """
    cent = _kmeans_centroids(spark, sf_dir)
    cnorm2 = F.aggregate(
        "cq", F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    tc = (
        cent.filter(cnorm2 > 0)
        .select(
            "cid", F.transform("cq", lambda x: x.cast("double")).alias("cent_emb")
        )
        .localCheckpoint(eager=False)
    )
    norm2 = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )
    fe = (
        _km_eligible(spark, sf_dir)
        .filter(norm2 > 0)
        .select("vec_id", "embedding")
    )
    return ivfpq_search_frame(fe, tc)


# --- matryoshka (prefix-dimension) two-stage retrieval -----------------
#
# Matryoshka representation learning (Kusupati et al. 2022) trains
# embeddings whose PREFIXES are themselves usable embeddings, enabling
# the standard production two-stage search: a cheap coarse pass scores
# every vector on the first d' dimensions (d'/d of the compute and --
# with the prefix stored as its own column -- d'/d of the scan bytes),
# then only the top-C coarse candidates per query are re-scored
# full-dimension. Recall loss is bounded by how often the true top-k
# falls outside the coarse top-C; C is the knob.

MAT_PREFIX_DIM = 8
MAT_COARSE_C = 50


def _sql_dot_n(a: str, b: str, n: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {n}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _sql_norm_n(a: str, n: int) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {n}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v))"
    )


_MAT_ORACLE = f"""
WITH base AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= {MAT_PREFIX_DIM}
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM base
  WHERE vec_id < {N_QUERIES}
),
c AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label, embedding AS c_emb
  FROM base
),
pre AS (
  SELECT query_id, neighbor_id, neighbor_label, q_emb, c_emb,
         {_sql_dot_n("q_emb", "c_emb", MAT_PREFIX_DIM)}
           / ({_sql_norm_n("q_emb", MAT_PREFIX_DIM)}
              * {_sql_norm_n("c_emb", MAT_PREFIX_DIM)}) AS pcos
  FROM q JOIN c ON query_id <> neighbor_id
),
cand AS (
  SELECT query_id, neighbor_id, neighbor_label, q_emb, c_emb FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY pcos DESC, neighbor_id) AS prk
    FROM pre) t
  WHERE prk <= {MAT_COARSE_C}
),
scored AS (
  SELECT query_id, neighbor_id, neighbor_label,
         {_sql_dot("q_emb", "c_emb")}
           / ({_sql_norm("q_emb")} * {_sql_norm("c_emb")}) AS cosine
  FROM cand
)
SELECT query_id, neighbor_id, neighbor_label, cosine, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored) t
WHERE rk <= {TOP_K}
"""


@register("sim_search_matryoshka", oracle=_MAT_ORACLE)
def sim_search_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage matryoshka retrieval: coarse top-{C} per query by
    prefix-dimension cosine (first {d'} of {d} dims), exact full-dim
    rerank of the candidates only.

    Vectors shorter than the prefix are not searchable (filtered on
    BOTH engines — the one cross-engine-stable contract for ragged
    arrays, same rationale as emb_semdedup's NaN exclusion). Both
    stages use the sequential-fold cosine so scores hash-match DuckDB
    bit-for-bit; coarse ties break on neighbor_id, so the candidate
    SET (not just the final ranking) is deterministic.

    Scale shape: stage 1 is sim_search_topk's broadcast-join scan at
    {d'}/{d} of the arithmetic — and in production the prefix lives in
    its own column/field so Parquet column pruning also cuts scan
    bytes ~{d'}/{d}; per-partition coarse top-C is pushed below the
    shuffle by WindowGroupLimit, so the exchange carries at most
    C rows per (query, partition). Stage 2 touches C x |queries| rows
    total — negligible. Composes with IVF (prefix-dim coarse scoring
    inside each probed list) without changing either plan.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") >= MAT_PREFIX_DIM)
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
    )
    pre = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "pcos",
            _cosine(
                F.slice("q_emb", 1, MAT_PREFIX_DIM),
                F.slice("c_emb", 1, MAT_PREFIX_DIM),
            ),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("pcos").desc(), F.col("neighbor_id")
    )
    cand = (
        pre.withColumn("prk", F.row_number().over(wc))
        .filter(F.col("prk") <= MAT_COARSE_C)
        .drop("prk", "pcos")
    )
    scored = cand.withColumn(
        "cosine", _cosine(F.col("q_emb"), F.col("c_emb"))
    ).select("query_id", "neighbor_id", "neighbor_label", "cosine")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rk") <= TOP_K
    )


# --- binary quantization + hamming prefilter + exact rerank ------------
#
# The 1-bit production pattern (e.g. BQ in modern vector stores):
# sign-quantize each dimension (v > 0 -> 1), pack 64 dims into two
# 32-bit BIGINT words, prefilter by Hamming distance (two XOR+popcount
# ops per pair — the cheapest possible candidate scorer, 32 bytes of
# index per vector), then exact-rerank the top-C survivors.
# random-hyperplane theory: P[sign bits agree] = 1 - angle/pi, so
# Hamming approximates angular distance even untrained.

BQ_COARSE_C = 50
_BQ_HALF = 32  # dims per packed word; 2 words cover the 64-dim corpus


def _bq_word_spark(emb, lo: int):
    """Pack dims [lo, lo+32) into one BIGINT: acc*2 + bit, msb-first.
    32 bits per word keeps every intermediate < 2^32 — no int64
    overflow in EITHER engine (Spark would wrap silently, DuckDB would
    error; the split sidesteps both)."""
    return F.aggregate(
        F.sequence(F.lit(lo + 1), F.lit(lo + _BQ_HALF)),
        F.lit(0).cast("long"),
        lambda acc, i: acc * 2
        + F.when(
            F.coalesce(F.element_at(emb, i).cast("double"), F.lit(0.0)) > 0, 1
        ).otherwise(0),
    )


def _bq_word_sql(e: str, lo: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series({lo + 1}, {lo + _BQ_HALF}), "
        f"i -> CASE WHEN coalesce(CAST({e}[i] AS DOUBLE), 0.0) > 0 "
        f"THEN 1 ELSE 0 END)), (acc, v) -> acc * 2 + v)"
    )


_BQ_ORACLE = f"""
WITH base AS (
  SELECT vec_id, embedding, label,
         {_bq_word_sql("embedding", 0)} AS w1,
         {_bq_word_sql("embedding", _BQ_HALF)} AS w2
  FROM embeddings WHERE embedding IS NOT NULL
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, w1 AS qw1, w2 AS qw2
  FROM base WHERE vec_id < {N_QUERIES}
),
c AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label,
         embedding AS c_emb, w1 AS cw1, w2 AS cw2
  FROM base
),
ham AS (
  SELECT query_id, neighbor_id, neighbor_label, q_emb, c_emb,
         CAST(bit_count(xor(qw1, cw1)) + bit_count(xor(qw2, cw2)) AS BIGINT)
           AS hamming
  FROM q JOIN c ON query_id <> neighbor_id
),
cand AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY hamming, neighbor_id) AS prk
    FROM ham) t
  WHERE prk <= {BQ_COARSE_C}
),
scored AS (
  SELECT query_id, neighbor_id, neighbor_label, hamming,
         {_sql_dot("q_emb", "c_emb")}
           / ({_sql_norm("q_emb")} * {_sql_norm("c_emb")}) AS cosine
  FROM cand
)
SELECT query_id, neighbor_id, neighbor_label, hamming, cosine,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored) t
WHERE rk <= {TOP_K}
"""


@register("sim_search_binary_rerank", oracle=_BQ_ORACLE)
def sim_search_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization search: sign-pack each vector into two
    32-bit words (16 bytes of index), Hamming-prefilter every
    (query, corpus) pair with two XOR+popcount ops, exact-rerank the
    top-{C} candidates full-dimension. Dims beyond the vector's length
    pad as 0 bits (coalesce), so ragged vectors still pack — identical
    rule both engines. NaN/Inf compare > 0 as TRUE in BOTH engines
    (both order NaN greatest), so even poisoned vectors quantize
    consistently; their exact-cosine rerank then lands NULL/NaN and
    sorts last under the shared DESC NULLS LAST default.

    Scale shape: the packed words are a 16-byte-per-vector index
    column (vs 256 bytes of float32) — at 100 TB the Hamming pass
    scans ~6% of the bytes, entirely inside whole-stage codegen
    (aggregate/xor/bit_count are JVM intrinsics, zero Python), with
    per-partition top-C pushed below the shuffle by WindowGroupLimit.
    The exact rerank touches C x |queries| rows. This is the cheapest
    member of the coarse-scorer family (vs sim_search_matryoshka's
    8-dim float pass and sim_search_pq's ADC tables); production picks
    by the recall/bytes trade measured via sim_eval_recall.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    base = e.select(
        "vec_id",
        "label",
        "embedding",
        _bq_word_spark(F.col("embedding"), 0).alias("w1"),
        _bq_word_spark(F.col("embedding"), _BQ_HALF).alias("w2"),
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        F.col("w1").alias("cw1"),
        F.col("w2").alias("cw2"),
    )
    ham = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "hamming",
            (
                F.bit_count(F.col("qw1").bitwiseXOR(F.col("cw1")))
                + F.bit_count(F.col("qw2").bitwiseXOR(F.col("cw2")))
            ).cast("bigint"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    cand = (
        ham.withColumn("prk", F.row_number().over(wc))
        .filter(F.col("prk") <= BQ_COARSE_C)
        .drop("prk")
    )
    scored = cand.withColumn("cosine", _cosine(F.col("q_emb"), F.col("c_emb"))).select(
        "query_id", "neighbor_id", "neighbor_label", "hamming", "cosine"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rk") <= TOP_K
    )
