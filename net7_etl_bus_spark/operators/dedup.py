"""Document deduplication operators for LLM training-data pipelines.

Four tiers, cheapest first (the standard cascade for 100 TB corpora):

1. ``dedup_exact`` — hash-groupBy on normalized text. One shuffle of
   (hash, doc_id) pairs, never the documents themselves.
2. ``dedup_simhash`` — near-dup fingerprint; groupable/bucketable.
3. ``dedup_minhash_lsh`` — MinHash signatures + banded LSH: candidate
   pairs only where a band bucket collides, so the join is on band
   hashes (tiny) instead of all-pairs.
4. ``dedup_ngram_jaccard`` — exact Jaccard on shingle sets. Quadratic
   in bucket size — at scale it runs only as the *verify* stage on
   LSH candidate pairs (``dedup_minhash_verified``), never standalone
   over the full corpus.

All hashing is md5-of-UTF-8 (identical hex in Spark and DuckDB), so
every stage is differentially tested against the DuckDB oracle — the
MinHash here is deterministic by construction, unlike MLlib's
seeded-random MinHashLSH (which is also wrapped, without an oracle,
as ``dedup_minhash_mllib``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import probes
from ..data import FIXTURES_DIR, load_table, scan_parallel
from ..plans.registry import register

# MinHash configuration: 16 hash functions, banded 4x4.
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = 4
SHINGLE_N = 3  # word 3-grams

# Universal-hash family over a 60-bit md5-derived integer:
#   x(s)  = int(md5(s)[:15 hex]) mod P          (ONE md5 per shingle)
#   h_i(s) = (A[i] * x + B[i]) mod P            (integer mul/add/mod)
# P = 2^31 - 1 (prime); A[i] < P so A[i]*x < 2^62 — exact in signed
# 64-bit in both engines, hence bit-identical Spark vs DuckDB. The
# previous family (16 full md5 calls per shingle, 32-char string mins)
# cost 16x the hashing and shuffled 512-byte signature rows; this one
# hashes once and shuffles 16 bigints. Constants from Random(42).
_MH_P = 2147483647
_MH_A = [1373158607, 239081664, 53710185, 1592467582, 590620972, 525901257,
         479341424, 299655413, 1581559893, 220106708, 1453201079, 1590571866,
         1915941033, 1171165723, 186699714, 1268073013]
_MH_B = [906070220, 68252793, 63989047, 201209005, 469521477, 499635468,
         1085242216, 1292825378, 56985561, 1205264595, 427000596, 1537640408,
         1395616196, 1506083910, 1170252923, 900911954]
# Band-key combiner: pairwise modular polynomial with multiplier 65599
# (values < 2^31, 65599 < 2^17 -> products < 2^48, exact in int64).
_MH_M = 65599

# ASCII-ONLY case folding (the engine spec for text normalization):
# full Unicode case mapping is LIBRARY-DEFINED, not SQL-defined — Java
# (Spark) turns ss into SS and applies Greek final-sigma rules where
# utf8proc (DuckDB) does not, so lower()/upper() on non-ASCII text can
# NEVER be cross-engine deterministic (found by the unicode fuzz
# sweep: 18 operators diverged through md5-of-lowered-text alone).
# translate() is a pure codepoint map, identical everywhere.
_ASCII_UC = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LC = "abcdefghijklmnopqrstuvwxyz"
_NORM = "translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"


def normalized_text(col: Column | str = "text") -> Column:
    """trim + ASCII-only case fold (see _NORM comment above)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(F.trim(c), _ASCII_UC, _ASCII_LC)


def _tokens(df: DataFrame) -> DataFrame:
    # scan_parallel (OPTIMIZATION_r13): every shingle cascade starts
    # here, and the testdata's single-row-group parquet pins the whole
    # tokenize -> shingle -> md5 -> partial-agg pipeline to ONE scan
    # task otherwise (parquet cannot split below a row group). The
    # adaptive gate makes this a no-op whenever the input already
    # splits into >= cores/2 tasks, i.e. at any production layout.
    # A/B: md5-chain med 2.52s -> 1.17s at sf0.1 (proto_parscan).
    return scan_parallel(df, "doc_id").select(
        "doc_id", F.split(normalized_text("text"), " ").alias("w")
    )


def _shingles(df: DataFrame) -> DataFrame:
    """Distinct word-SHINGLE_N-gram shingles per doc.

    Built with sequence+transform (JVM higher-order functions), deduped
    per document with array_distinct BEFORE the explode, then exploded
    — no Python in the path, and crucially NO shuffle: shingle
    uniqueness is a per-document property, so a global .distinct()
    (which shuffles every (doc_id, shingle) row) would be pure waste at
    corpus scale. Docs shorter than SHINGLE_N words produce no shingles
    (dropped, same as the oracle).
    """
    toks = _tokens(df)
    shingle_list = F.transform(
        F.sequence(F.lit(1), F.size("w") - (SHINGLE_N - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("w", i + k) for k in range(SHINGLE_N)]
        ),
    )
    return (
        toks.filter(F.size("w") >= SHINGLE_N)
        .select("doc_id", F.explode(F.array_distinct(shingle_list)).alias("s"))
    )


# Oracle-side twin of _shingles (DuckDB list comprehension).
_SQL_SHINGLES = f"""
toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, s
  FROM toks, UNNEST(list_transform(
        generate_series(1, len(w) - {SHINGLE_N - 1}),
        i -> concat_ws(' ', {', '.join(f'w[i+{k}]' for k in range(SHINGLE_N))})
      )) AS t(s)
  WHERE len(w) >= {SHINGLE_N}
)
"""


@register(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORM}) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5({_NORM})
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash of normalized text; survivor is the
    smallest doc_id (deterministic). Map-side partial aggregation means
    the shuffle carries one row per (partition, hash)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(normalized_text("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_exact_survivors",
    oracle=f"""
    SELECT d.doc_id, d.lang, d.source FROM documents d
    JOIN (SELECT MIN(doc_id) AS keep_doc_id FROM documents GROUP BY md5({_NORM})) k
      ON d.doc_id = k.keep_doc_id
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving rows themselves (what a pipeline actually writes
    out): semi-join documents to the per-hash min doc_id."""
    d = load_table(spark, sf_dir, "documents")
    keep = (
        d.groupBy(F.md5(normalized_text("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"))
        .select("keep_doc_id")
    )
    return d.join(
        keep, d.doc_id == keep.keep_doc_id, "left_semi"
    ).select("doc_id", "lang", "source")


# Carried-set WORD-count cap (VERDICT r3 item 4): a doc with more
# words than this does NOT get its hash-set collected (its xs stays
# empty — bounded aggregation buffers even for a pathological 10M-
# shingle document, since n_shingles <= n_words always); candidate
# pairs touching such a doc are verified through the candidate-
# restricted exploded-hash join instead, which computes the IDENTICAL
# exact Jaccard. The cap is on WORDS, not distinct shingles, because
# the word count is an O(1) scalar off the already-built token array —
# gating on the distinct-shingle count would force the shingle array
# to be materialized outside the Generate and either carried through
# the explode or built twice (both measured 6-10x the signature pass).
# 8192 * 8 B = 64 KB worst-case xs array per doc.
_XS_CAP = 8192


def _shingles_counted(df: DataFrame) -> DataFrame:
    """Like :func:`_shingles` but each exploded row also carries the
    doc's WORD count ``n_w`` (the mega-doc routing scalar, known
    pre-explode, so the collect-set gate in the signature pass is a
    per-row predicate, not a second aggregation over exploded data).

    Plan-shape note (measured, not theoretical): ``n_w`` is computed
    in its own projection below the explode-select so only the 4-byte
    scalar crosses the Generate; the generator keeps the shingle-build
    chain INLINE (same fused codegen as :func:`_shingles`). Computing
    any size() in the same select as the explode moves it above the
    Generate and drags the underlying array through every exploded
    row — 6x wall time on the signature pass at sf0.1."""
    toks = _tokens(df)
    counted = toks.filter(F.size("w") >= SHINGLE_N).select(
        "doc_id", F.size("w").alias("n_w"), "w"
    )
    shingle_list = F.transform(
        F.sequence(F.lit(1), F.size("w") - (SHINGLE_N - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("w", i + k) for k in range(SHINGLE_N)]
        ),
    )
    return counted.select(
        "doc_id", "n_w", F.explode(F.array_distinct(shingle_list)).alias("s")
    )


def _minhash_signature_from(
    sh: DataFrame, with_sets: bool = False, cap: int = _XS_CAP
) -> DataFrame:
    """doc_id + 16 MinHash columns h0..h15 (bigint) + n_shingles
    (+ the per-doc distinct shingle-hash set ``xs`` when requested).

    Hash family: ONE md5 per shingle -> 60-bit integer x, then
    h_i(s) = (A[i]*x + B[i]) mod P (see _MH_* constants) — the
    signature element is the MIN over the doc's shingle set. Computed
    as 16 min-aggregates in a single groupBy pass over the exploded
    shingles — the data is exploded once, not 16 times, and the md5 is
    computed once, not 16 times. With ``with_sets`` the compact hash
    set (|shingles| x 8 bytes, ~1 KB/doc) rides along in the SAME
    pass, so the verified cascade needs zero further shingle scans:
    set sizes and intersections come from the arrays.

    ``with_sets`` requires the input to carry ``n_w`` (use
    :func:`_shingles_counted`): docs above ``cap`` WORDS collect an
    EMPTY set (bounded buffers; the when() gate makes collect_set
    skip every row) and surface ``is_mega=true`` so the caller routes
    their pairs to the exploded-hash verify fallback.
    """
    # x stays PRE-mod (60-bit) so the collected sets keep full hash
    # width — within-doc collision odds ~n²/2^61, not ~n²/2^32 as the
    # previous post-mod collect had (ADVICE r3). The reduction mod P
    # moves inside the h_i expressions; (A*(x%P)+B)%P == (A*x+B)%P, so
    # signatures, band keys, and candidate pairs are unchanged, and
    # A*(x%P) stays < 2^62 (no int64 overflow — A*x with 60-bit x
    # would overflow, which is why the pre-reduction must be explicit).
    x = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint")
    carried = ["doc_id", *(["n_w"] if with_sets else [])]
    hashed = sh.select(*carried, x.alias("x"))
    xm = F.col("x") % _MH_P
    aggs = [
        F.min((F.lit(_MH_A[i]) * xm + F.lit(_MH_B[i])) % _MH_P).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    aggs.append(F.count(F.lit(1)).alias("n_shingles"))
    if with_sets:
        aggs.append(
            F.collect_set(
                F.when(F.col("n_w") <= F.lit(cap), F.col("x"))
            ).alias("xs")
        )
        aggs.append(F.max(F.col("n_w") > F.lit(cap)).alias("is_mega"))
    return hashed.groupBy("doc_id").agg(*aggs)


def _minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_signature_from(_shingles(load_table(spark, sf_dir, "documents")))


def _lsh_candidate_pairs(
    sig: DataFrame, n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """Banded LSH candidate pairs (doc_a < doc_b) from a signature df.

    One posexplode over an array of band hashes — NOT a union of
    N_BANDS projections, which would replay the (expensive) signature
    aggregation once per band at plan level. The self-join is an
    equi-join on (band_id, band_hash): only colliding buckets produce
    work; AQE skew-join splits boilerplate-heavy buckets. Band keys are
    8-byte modular-polynomial combines of the per-band signature ints
    (not md5-of-concat strings) — smaller shuffle rows, zero string
    work.

    ``(n_bands, rows_per_band)`` is the recall knob (default 4x4 over
    the 16 hashes, S-curve threshold ~0.5 Jaccard): more bands with
    fewer rows each — e.g. 8x2 or 16x1 — is PERMISSIVE banding, a
    strict candidate superset at fixed hash budget, the documented fix
    when asymmetric (containment) pairs need recall below the Jaccard
    threshold. Measured by dedup_containment_recall.
    """
    if n_bands * rows_per_band > N_HASHES:
        raise ValueError(
            f"banding {n_bands}x{rows_per_band} exceeds the "
            f"{N_HASHES}-hash signature"
        )

    def band_key(b: int) -> Column:
        v = F.col(f"h{b * rows_per_band}")
        for r in range(1, rows_per_band):
            v = (v * _MH_M + F.col(f"h{b * rows_per_band + r}")) % _MH_P
        return v

    band_hash_array = F.array(*[band_key(b) for b in range(n_bands)])
    bands = sig.select(
        "doc_id", F.posexplode(band_hash_array).alias("band_id", "band_hash")
    )
    a = bands.alias("a")
    b_ = bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# Pre-mod 60-bit x (mirrors the Spark side; % P happens inside h_i).
_SQL_X = "CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)"

_SQL_SIG = f"""
hashed AS (
  SELECT doc_id, {_SQL_X} AS x FROM shingles
),
sig AS (
  SELECT doc_id,
         {', '.join(f"MIN(({_MH_A[i]} * (x % {_MH_P}) + {_MH_B[i]}) % {_MH_P}) AS h{i}" for i in range(N_HASHES))}
  FROM hashed GROUP BY doc_id
)
"""


def _sql_band_key(b: int, rows_per_band: int = ROWS_PER_BAND) -> str:
    v = f"h{b * rows_per_band}"
    for r in range(1, rows_per_band):
        v = f"(({v}) * {_MH_M} + h{b * rows_per_band + r}) % {_MH_P}"
    return v


def _sql_bands(n_bands: int, rows_per_band: int, name: str = "bands") -> str:
    """Band CTE at an arbitrary (n_bands, rows_per_band) over the
    16-hash signature — the oracle twin of _lsh_candidate_pairs'
    banding knob."""
    return f"{name} AS (\n" + "\nUNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, "
        f"{_sql_band_key(b, rows_per_band)} AS band_hash FROM sig"
        for b in range(n_bands)
    ) + "\n)"


_SQL_BANDS = "bands AS (\n" + "\nUNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band_id, {_sql_band_key(b)} AS band_hash FROM sig"
    for b in range(N_BANDS)
) + "\n)"


@register(
    "dedup_minhash_signature",
    oracle=f"WITH {_SQL_SHINGLES}, {_SQL_SIG} SELECT * FROM sig",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_signature(spark, sf_dir).select(
        "doc_id", *[f"h{i}" for i in range(N_HASHES)]
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate pairs.

    Scale shape: signatures are one row per doc (16 hex strings);
    banding multiplies rows by N_BANDS only; the self-join is an
    equi-join on (band_id, band_hash) — only colliding buckets produce
    work. With s-curve (16 hashes, 4x4 bands) pairs with Jaccard ~0.5+
    collide with high probability. Skewed buckets (e.g. boilerplate
    docs) are handled by AQE skew-join splitting.

    Deliberately NOT persisted: the bands self-join reuses the
    signature aggregation's shuffle (ReusedExchange), so an explicit
    persist only adds materialization cost here (measured equal at
    sf0.1). The verified cascade, whose branches do NOT share an
    exchange, is where the explicit persists live.
    """
    return _lsh_candidate_pairs(_minhash_signature(spark, sf_dir))


_SQL_JACCARD_PAIRS = """
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_JACCARD_PAIRS}
    SELECT i.doc_a, i.doc_b,
           CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.08
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard over all pairs sharing >=1 shingle.

    The jaccard value is integer-arithmetic + one double division —
    bit-identical across engines. This op is the exactness baseline;
    at 100 TB only the LSH-candidate-restricted variant below runs.
    """
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("c").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.08)
    )


# Per-doc distinct shingle-hash sets, computed from the same `hashed`
# relation the signature aggregation consumes. Used by the verified
# cascade (and its cc/curation dependents): set sizes and
# intersections come from compact arrays, so after the one shingle
# explode NOTHING re-touches shingles.
_SQL_XSETS = """
xsets AS (
  SELECT doc_id, list_distinct(list(x)) AS arr FROM hashed GROUP BY doc_id
)
"""

_SQL_VERIFIED_JACCARD = """
CAST(len(list_intersect(sa.arr, sb.arr)) AS DOUBLE) /
  (len(sa.arr) + len(sb.arr) - len(list_intersect(sa.arr, sb.arr)))
"""

_SQL_VERIFIED = f"""
verified AS (
  SELECT c.doc_a, c.doc_b, {_SQL_VERIFIED_JACCARD} AS jaccard
  FROM cand c
  JOIN xsets sa ON sa.doc_id = c.doc_a
  JOIN xsets sb ON sb.doc_id = c.doc_b
)
"""


@register(
    "dedup_minhash_verified",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    {_SQL_XSETS}, {_SQL_VERIFIED}
    SELECT doc_a, doc_b, jaccard FROM verified
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline: LSH candidates -> Jaccard
    verification restricted to those pairs. The cascade that scales:
    candidate generation is bucket-join-bounded, and verification
    joins each candidate pair to the two compact per-doc shingle-hash
    SETS (built in the same single pass as the MinHash signatures) —
    intersection/size are array ops on ~1 KB arrays, so after the one
    shingle explode nothing re-touches shingles and no per-pair
    shuffle of exploded rows exists at all. Cost is
    O(candidates x set size), never the |corpus|² all-pairs self-join
    (dedup_ngram_jaccard keeps that as the raw-shingle exactness
    baseline).

    Jaccard here is over 60-bit shingle *hashes* (collision odds
    ~|doc|²/2^61 per doc — immaterial, and the oracle computes the
    identical hashed sets, so the check is still value-exact).
    Measured at sf0.1: the array form is ~15-20% faster than the
    previous candidate-driven exploded-shingle joins, which in turn
    beat persist-based variants (cache-write cost exceeded the
    recompute; no ReusedExchange fires across branches under AQE).
    r13 update: with the heavier with-sets aggregate, duplicating the
    signature chain across the cand/verify branches became the
    dominant cost, so the signature relation is now localCheckpointed
    once — see _verified_pairs.
    """
    return _verified_pairs(load_table(spark, sf_dir, "documents"))


def _verified_pairs(docs: DataFrame, cap: int = _XS_CAP) -> DataFrame:
    """LSH candidates -> exact hashed-set Jaccard, with the mega-doc
    guard (VERDICT r3 item 4): pairs where BOTH docs have <= ``cap``
    WORDS verify against the carried arrays; pairs touching a doc
    above the cap (whose xs was left empty to bound aggregation
    buffers) verify through a candidate-restricted join of the
    mega-docs-only exploded hash relation — cost
    O(pairs_touching_mega x set size), and the VALUE is the identical
    exact Jaccard either way (denominators use n_shingles, which is
    exact for every doc). The union of the three partitions
    (small-small / mixed / mega-mega) is what the single array path
    used to return, so the oracle is unchanged."""
    # Cheap corpus probe BEFORE building any cascade machinery
    # (probes.exists — the audited construction-time idiom). Two
    # tiers, both early-exiting narrow scans of `documents` only (no
    # shingle explode, no md5, no shuffle): (1) raw char length — a
    # NECESSARY condition for n_w > cap, since n_w - 1 spaces need
    # norm_len >= cap and lower() expands length at most 3x — then
    # (2) the exact word count, only on the rare corpus where tier 1
    # fires. When the corpus has no mega doc — the overwhelmingly
    # common case — the whole function builds the signature relation
    # once (checkpointed below) and NO probe-of-the-cascade runs (the
    # prior design probed the CACHED candidate relation, which forced
    # the full signature cascade to materialize into the cache before
    # the verify job — measured ~1.4 s extra single-shot at sf0.1).
    has_mega = probes.exists(
        docs.filter(F.length("text") * 3 >= cap)
    ) and probes.exists(
        docs.filter(F.size(F.split(normalized_text("text"), " ")) > cap)
    )

    sh = _shingles_counted(docs)
    sig = _minhash_signature_from(sh, with_sets=True, cap=cap)
    # Materialize the signature relation ONCE (OPTIMIZATION_r13). The
    # candidate branch and the two verify sides consume sig through
    # DIFFERENTLY-PRUNED subtrees (cand needs h0..h15 only, so
    # Catalyst drops the collect_set from its copy of the aggregate;
    # the sides keep xs) — the subtrees are no longer identical, so
    # AQE exchange reuse cannot fire across them and the whole
    # shingle-explode + md5 + aggregation chain ran TWICE per query
    # (plans/r13/dedup_minhash_verified_before.txt: four documents
    # scans, two full signature aggregations). sig is one compact row
    # per doc (16 bigints + the capped hash set, <= ~65 KB worst
    # case), so the checkpoint is corpus-ROW-sized, far below what
    # builds it; the r3-era measurement that rejected persist here
    # predates the with-sets aggregate, whose duplicated cost now
    # dominates (A/B at sf0.1: med 3.11s -> 2.04s with checkpoint +
    # scan_parallel, proto_verified). Same localCheckpoint/GC-release
    # contract as the mega path's `joined` below.
    sig = sig.localCheckpoint()
    cand = _lsh_candidate_pairs(sig)
    side = sig.select("doc_id", "xs", "n_shingles", "is_mega")
    sa = side.select(
        F.col("doc_id").alias("da"),
        F.col("xs").alias("xa"),
        F.col("n_shingles").alias("na"),
        F.col("is_mega").alias("ma"),
    )
    sb = side.select(
        F.col("doc_id").alias("db"),
        F.col("xs").alias("xb"),
        F.col("n_shingles").alias("nb"),
        F.col("is_mega").alias("mb"),
    )
    # ONE row per candidate pair with both arrays/sizes attached.
    joined = (
        cand.join(sa, F.col("doc_a") == F.col("da"))
        .join(sb, F.col("doc_b") == F.col("db"))
        .select("doc_a", "doc_b", "xa", "xb", "na", "nb", "ma", "mb")
    )
    inter = F.size(F.array_intersect("xa", "xb")).cast("double")
    jac = inter / (F.col("na") + F.col("nb") - inter)

    if not has_mega:
        # No doc exceeds the cap, so every xs is complete and the
        # array verify is exact for every pair — one lazy plan, no
        # persist, no ma/mb branches.
        return joined.select("doc_a", "doc_b", jac.alias("jaccard"))

    # Mega path: three downstream branches (array verify, mixed
    # fallback, mega-mega fallback) consume `joined` — unmaterialized,
    # each branch replays the whole signature cascade (measured 4x
    # wall time at sf0.1). The relation is candidate-count sized
    # (arrays capped at 64 KB/side), so the materialization is small
    # by construction. localCheckpoint (same pattern as
    # connected_components' edge checkpoint) rather than persist():
    # the blocks are released when the DataFrame is GC'd, so repeated
    # mega-corpus runs on a long-lived session don't accumulate cached
    # relations and no caller ever needs a cache-nuking
    # spark.catalog.clearCache().
    joined = joined.localCheckpoint()
    small = (
        joined.filter(~F.col("ma") & ~F.col("mb"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )

    # Fallback hash relation: ONLY mega docs are exploded. The word-
    # count filter (the SAME n_w > cap criterion the signature gate
    # used) is evaluable before any shingle work, so when the corpus
    # has no mega docs this branch dies at the scan — no explode, no
    # md5, no shuffle.
    mega_docs = docs.filter(
        F.size(F.split(normalized_text("text"), " ")) > cap
    )
    x = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint")
    # checkpointed: consumed by the mixed join and both sides of the
    # mega-mega join — one documents scan instead of three (and the
    # relation is empty whenever the corpus has no mega docs; this
    # branch only builds at all when has_mega fired). GC-released like
    # `joined` above.
    hm = _shingles(mega_docs).select("doc_id", x.alias("x")).localCheckpoint()

    def pair_jaccard(pairs: DataFrame, c: DataFrame) -> DataFrame:
        cval = F.coalesce(F.col("c"), F.lit(0)).cast("double")
        return pairs.join(c, ["doc_a", "doc_b"], "left").select(
            "doc_a",
            "doc_b",
            (cval / (F.col("na") + F.col("nb") - cval)).alias("jaccard"),
        )

    # Mixed pairs (one mega, one small): explode the SMALL side's
    # capped array and hash-join it against the mega side's hashes —
    # O(pairs x cap) exploded rows, never an array_contains scan over
    # the mega set.
    mixed = (
        joined.filter(F.col("ma") != F.col("mb"))
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            F.when(F.col("ma"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("mega_id"),
            F.when(F.col("ma"), F.col("xb"))
            .otherwise(F.col("xa"))
            .alias("partner"),
        )
    )
    mixed_c = (
        mixed.select("doc_a", "doc_b", "mega_id", F.explode("partner").alias("px"))
        .join(hm, (F.col("mega_id") == F.col("doc_id")) & (F.col("px") == F.col("x")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mixed_res = pair_jaccard(mixed.select("doc_a", "doc_b", "na", "nb"), mixed_c)

    # Mega-mega pairs: both sides from the (mega-only) hash relation.
    mm = joined.filter(F.col("ma") & F.col("mb")).select(
        "doc_a", "doc_b", "na", "nb"
    )
    ha = hm.select(F.col("doc_id").alias("doc_a"), "x")
    hb = hm.select(F.col("doc_id").alias("doc_b"), "x")
    mm_c = (
        mm.select("doc_a", "doc_b")
        .join(ha, "doc_a")
        .join(hb, ["doc_b", "x"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mm_res = pair_jaccard(mm, mm_c)

    return small.unionByName(mixed_res).unionByName(mm_res)


_SIMHASH_BITS = 16


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    bits AS (
      SELECT doc_id,
             {', '.join(
                 "SUM(CASE WHEN substring(md5(tok), %d, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b%d" % (i + 1, i)
                 for i in range(_SIMHASH_BITS)
             )}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id,
           concat({', '.join(f"CASE WHEN b{i} >= 0 THEN '1' ELSE '0' END" for i in range(_SIMHASH_BITS))}) AS simhash
    FROM bits
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint (16-bit, md5-derived bit votes, token
    frequency weighted). Near-dup docs land on equal/close fingerprints;
    grouping by simhash (or by a few rotated prefixes, for Hamming
    distance 1-3) buckets candidates with zero pairwise work. One
    explode + one groupBy with 16 conditional sums."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("tok"))
    hexset = ("8", "9", "a", "b", "c", "d", "e", "f")
    votes = [
        F.sum(
            F.when(F.substring(F.md5("tok"), i + 1, 1).isin(*hexset), 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(_SIMHASH_BITS)
    ]
    bits = toks.groupBy("doc_id").agg(*votes)
    simhash = F.concat(
        *[F.when(F.col(f"b{i}") >= 0, "1").otherwise("0") for i in range(_SIMHASH_BITS)]
    )
    return bits.select("doc_id", simhash.alias("simhash"))


# MLlib's approxSimilarityJoin keeps dist < threshold STRICTLY, and
# dist = 1 - jaccard, so the "true pair" set it is evaluated against
# uses the matching strict bound jaccard > 0.4.
_MLLIB_JACCARD = 0.4
_MLLIB_RECALL_MIN_PCT = 70  # n_caught*100 >= n_true*70, integer math


@register(
    "dedup_minhash_mllib",
    oracle=f"""
    WITH {{sh}}, {{pairs}}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, 1 AS recall_ok
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) > {_MLLIB_JACCARD}
    """.format(sh=_SQL_SHINGLES, pairs=_SQL_JACCARD_PAIRS),
)
def dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH recall invariant (r4 verdict item 3). The
    library's seeded hash family is deterministic within Spark but not
    reproducible in DuckDB, so the PAIRS it finds can never be
    oracle-checked (`dedup_minhash_lsh` is the oracle-checked pairs
    surface). What IS cross-engine checkable is the library's quality
    contract: of the exact-Jaccard>0.4 pair set (computable in both
    engines from raw shingles), MLlib's 4-table LSH must catch at
    least {_MLLIB_RECALL_MIN_PCT}%. Output is one row
    (n_true_pairs, recall_ok); the oracle computes the same exact pair
    count and asserts recall_ok as the literal 1 — a recall collapse
    now FAILS the driver gate instead of hiding behind a rows-only
    check (same pattern as sim_eval_recall).

    Scale shape: the true-pair side is the shared-shingle equi-join
    (O(collisions), not all-pairs); the MLlib side is its banded
    hash-bucket join. Both are eval-sized ops — at 100 TB this runs on
    a sampled corpus slice, like every recall evaluation.
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    d = load_table(spark, sf_dir, "documents")
    # localCheckpoint x2 (OPTIMIZATION_r13, guide §5 lineage): sh
    # feeds cv.fit AND transform; feats feeds mh.fit AND both sides
    # of approxSimilarityJoin — without pinning, the shingle
    # aggregation re-ran per consumer (5.6 s -> 3.4 s at sf0.1,
    # identical output). Both relations are doc-count-sized.
    sh = _shingles(d).groupBy("doc_id").agg(
        F.collect_set("s").alias("sh_set")
    ).localCheckpoint()
    cv = CountVectorizer(inputCol="sh_set", outputCol="features", binary=True)
    model = cv.fit(sh)
    feats = model.transform(sh).localCheckpoint()
    # Every grouped doc has >=1 shingle, hence >=1 nonzero entry
    # (MinHashLSH rejects all-zero vectors) — unless CountVectorizer's
    # vocab cap truncates a doc to nothing at huge corpus scale.
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    mh_model = mh.fit(feats)
    found = (
        mh_model.approxSimilarityJoin(feats, feats, 1.0 - _MLLIB_JACCARD, distCol="d")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("f_a"),
            F.col("datasetB.doc_id").alias("f_b"),
        )
    )
    true_pairs = dedup_ngram_jaccard(spark, sf_dir).filter(
        F.col("jaccard") > _MLLIB_JACCARD
    )
    return (
        true_pairs.join(
            found,
            (F.col("doc_a") == F.col("f_a")) & (F.col("doc_b") == F.col("f_b")),
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"),
            F.count("f_a").alias("n_caught"),
        )
        .select(
            "n_true_pairs",
            F.when(
                F.col("n_caught") * 100 >= F.col("n_true_pairs") * _MLLIB_RECALL_MIN_PCT,
                1,
            )
            .otherwise(0)
            .alias("recall_ok"),
        )
    )


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iter: int = 50
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    ``(id, label)`` where label is the smallest node id reachable in
    the undirected graph given by ``pairs``.

    This is the step that turns near-dup PAIRS into duplicate
    CLUSTERS — pairwise similarity is not transitive, but dedup
    survivor selection needs one keeper per transitive group, so the
    industry-standard cascade is LSH pairs -> connected components ->
    keep min id per component.

    Scale shape: a driver-coordinated fixpoint loop (the canonical
    Spark pattern for iterative graph algorithms — same structure as
    GraphX/Pregel). Each round is one join + min-aggregation, both
    shuffling on node id, and `localCheckpoint()` materializes the
    new labels so lineage stays O(1) instead of O(iterations).
    Rounds needed = graph diameter; duplicate clusters are
    near-cliques (diameter ~1-3), so the loop converges in a handful
    of rounds even at 100 TB. Convergence is detected from the SUM of
    labels (strictly decreasing until fixpoint) — one cheap scalar
    aggregate per round, no labels-vs-labels self-join.
    """
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = fwd.union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
    # Materialize the edge relation ONCE: edges is consumed by every
    # fixpoint round, and without this checkpoint each round re-runs
    # the whole upstream plan that produced the pairs (for the
    # verified-MinHash caller that is the full signature cascade —
    # measured ~3x the composite's wall time at sf0.1). The edge
    # relation is pair-count sized, tiny next to what builds it.
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("label").alias("nlabel"))
        )
        labels = (
            labels.join(neighbor_min, labels.id == F.col("nid"), "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


_CC_THRESHOLD = 0.5

_CC_ORACLE = f"""
WITH RECURSIVE {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
{_SQL_XSETS},
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN xsets sa ON sa.doc_id = c.doc_a
  JOIN xsets sb ON sb.doc_id = c.doc_b
  WHERE {_SQL_VERIFIED_JACCARD} >= {_CC_THRESHOLD}
),
sym AS (
  SELECT doc_a AS s, doc_b AS d FROM verified
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM verified
),
reach(s, d) AS (
  SELECT s, d FROM sym
  UNION
  SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
)
SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
FROM reach GROUP BY s ORDER BY doc_id
"""


@register("dedup_cc_clusters", oracle=_CC_ORACLE)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the full production cascade — MinHash LSH
    candidates -> exact-Jaccard verify (>= 0.5) -> connected
    components -> (doc_id, cluster_id = min doc id of the transitive
    group). Downstream dedup keeps `doc_id == cluster_id` rows.

    The iterative Spark fixpoint is checked against a DuckDB
    RECURSIVE-CTE transitive closure over the identical verified
    pairs — an iterative algorithm with a full value-level oracle.
    """
    pairs = dedup_minhash_verified(spark, sf_dir).filter(
        F.col("jaccard") >= _CC_THRESHOLD
    )
    cc = connected_components(pairs)
    return cc.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


# --- paragraph-level dedup (boilerplate removal) ----------------------

_BOILER_MIN_DOCS = 3  # a paragraph in >= 3 distinct docs is boilerplate


@register(
    "dedup_paragraph",
    oracle=f"""
    WITH paras AS (
      SELECT doc_id,
             unnest(generate_series(1, len(string_split(text, E'\\n\\n')))) - 1
               AS pos,
             unnest(string_split(text, E'\\n\\n')) AS para
      FROM read_parquet('{{FIX}}/web_docs.parquet')),
    boiler AS (
      SELECT md5(para) AS ph
      FROM paras GROUP BY md5(para)
      HAVING COUNT(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}),
    marked AS (
      SELECT p.doc_id, p.pos, p.para,
             CASE WHEN b.ph IS NULL THEN 0 ELSE 1 END AS is_boiler
      FROM paras p LEFT JOIN boiler b ON md5(p.para) = b.ph)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(is_boiler) AS BIGINT) AS n_boiler,
           COALESCE(string_agg(CASE WHEN is_boiler = 0 THEN para END,
                               E'\\n\\n' ORDER BY pos), '') AS cleaned
    FROM marked GROUP BY doc_id
    ORDER BY doc_id
    """.replace("{FIX}", FIXTURES_DIR),
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup — C4/RefinedWeb-style boilerplate
    removal: any paragraph appearing in >= 3 distinct documents
    (site headers, footers, nav text) is stripped from EVERY document,
    preserving the order of what remains.

    The corpus-wide step shuffles only (md5(paragraph), doc_id) — 16
    bytes + a key per paragraph, never the text. The resulting
    boilerplate set is tiny by construction (only cross-doc repeated
    paragraphs) so it rejoins the exploded paragraphs by BROADCAST;
    reassembly groups by doc_id with an order-pinned collect. Runs on
    the committed web_docs fixture (the testdata documents are
    single-paragraph).

    Scale note: at 100 TB the reassembly groupBy carries the document
    bytes through one shuffle — unavoidable for reconstruction (the
    alternative, a per-doc filter with a broadcast boilerplate set,
    is what the plan actually does: the only *wide* exchange over
    text is the final per-doc collect, partitioned by doc_id).
    """
    d = spark.read.parquet(f"{FIXTURES_DIR}/web_docs.parquet")
    paras = d.select(
        "doc_id",
        F.posexplode(F.split("text", "\n\n")).alias("pos", "para"),
    )
    boiler = (
        paras.groupBy(F.md5(F.col("para").cast("binary")).alias("ph"))
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BOILER_MIN_DOCS)
        .select("ph")
    )
    marked = paras.join(
        F.broadcast(boiler),
        F.md5(F.col("para").cast("binary")) == F.col("ph"),
        "left",
    ).select(
        "doc_id",
        "pos",
        "para",
        F.when(F.col("ph").isNull(), 0).otherwise(1).alias("is_boiler"),
    )
    kept = F.array_sort(
        F.collect_list(
            F.when(
                F.col("is_boiler") == 0, F.struct(F.col("pos"), F.col("para"))
            )
        )
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_paras"),
            F.sum("is_boiler").cast("bigint").alias("n_boiler"),
            F.array_join(
                F.transform(kept, lambda s: s.getField("para")), "\n\n"
            ).alias("cleaned"),
        )
        .orderBy("doc_id")
    )


# --- lead-fingerprint (prefix) dedup ----------------------------------

_PREFIX_LEN = 40


@register(
    "dedup_prefix",
    oracle=f"""
    SELECT md5(substring(text, 1, {_PREFIX_LEN})) AS lead_fp,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS survivor_id,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
    FROM read_parquet('{{FIX}}/web_docs.parquet')
    GROUP BY lead_fp HAVING COUNT(*) >= 2
    ORDER BY lead_fp
    """.replace("{FIX}", FIXTURES_DIR),
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-fingerprint dedup: documents grouped by the md5 of their
    first {_PREFIX_LEN} characters — the cheap catcher for truncation
    duplicates and same-template leads (mirrors/partial fetches of one
    page share a lead long before full-text hashes agree). Groups with
    >= 2 docs come back with a deterministic survivor (min doc_id) and
    the ordered member list.

    Scale shape: like dedup_exact, the shuffle carries (16-byte
    fingerprint, doc_id) — never text; member lists are bounded by
    group size (duplicate clusters), not corpus size. The stringified
    member list keeps the output hash-comparable (array columns don't
    sort portably in the driver compare).
    """
    d = spark.read.parquet(f"{FIXTURES_DIR}/web_docs.parquet")
    fp = F.md5(F.substring("text", 1, _PREFIX_LEN).cast("binary"))
    return (
        d.select(fp.alias("lead_fp"), "doc_id")
        .groupBy("lead_fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("survivor_id"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("members"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("lead_fp")
    )


# --- repeated long-span detection (substring-level dedup signal) ------

_SPAN_K = 5  # tokens per window
_SPAN_MIN_DOCS = 2

_SPAN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
),
wins AS (
  SELECT doc_id,
         md5(concat_ws(' ', {', '.join(f'w[i+{k}]' for k in range(_SPAN_K))})) AS wh
  FROM toks, UNNEST(generate_series(1, len(w) - {_SPAN_K - 1})) AS t(i)
  WHERE len(w) >= {_SPAN_K}
),
dup AS (
  SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= {_SPAN_MIN_DOCS}
)
SELECT w.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN d.wh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_windows,
       CAST(SUM(CASE WHEN d.wh IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*)
         AS dup_fraction
FROM wins w LEFT JOIN dup d ON w.wh = d.wh
GROUP BY w.doc_id
"""


@register("dedup_span_ngram", oracle=_SPAN_ORACLE)
def dedup_span_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated long-span detection — the substring-level dedup signal
    (the scalable analogue of suffix-array substring dedup, Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): every
    positional {_SPAN_K}-token window is hashed; windows whose hash
    occurs in >= {_SPAN_MIN_DOCS} distinct documents are cross-document
    repeated spans; each doc reports its window count, repeated-window
    count, and repeated fraction (the "how much of this doc is copied
    text" score used to drop or trim documents).

    Unlike shingle MinHash (whole-document similarity), this catches
    partial copying: a unique article quoting three boilerplate
    paragraphs scores low on Jaccard but high here.

    Scale shape: the shuffle carries (16-byte window hash, doc_id)
    pairs, never text; the dup-hash relation is hash-aggregated with
    map-side partial counts; the rejoin is a hash equi-join on the
    window hash. Everything downstream of the one explode is
    hash-width, so cost is O(total tokens), independent of document
    sizes or corpus skew.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(normalized_text("text"), " ").alias("w"))
    win_list = F.transform(
        F.sequence(F.lit(1), F.size("w") - (_SPAN_K - 1)),
        lambda i: F.md5(
            F.concat_ws(" ", *[F.element_at("w", i + k) for k in range(_SPAN_K)])
        ),
    )
    wins = (
        toks.filter(F.size("w") >= _SPAN_K)
        .select("doc_id", F.explode(win_list).alias("wh"))
    )
    dup = (
        wins.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _SPAN_MIN_DOCS)
        .select("wh")
    )
    marked = wins.join(dup.withColumn("is_dup", F.lit(1)), "wh", "left")
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("bigint").alias("n_dup_windows"),
        (
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_fraction"),
    )


# --- incremental (streaming) corpus dedup -----------------------------


def dedup_apply_increment(seen: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Incrementally maintain the exact-dedup state table of
    :func:`dedup_exact` from one micro-batch of documents (the
    foreachBatch body for a streaming corpus-dedup stage).

    State schema: (text_hash, keep_doc_id, n_copies) — identical to
    dedup_exact's output, so after any number of batches the state
    equals the one-shot batch build over everything ingested
    (pinned in tests/test_streaming.py). The merge is one full-outer
    join on the 16-byte hash: survivor = least doc_id seen so far,
    count = running sum. Work per batch is O(batch + matched hashes);
    untouched state rows pass through untouched. Batches must arrive
    exactly once (the queue contract — same as scd2_apply_increment;
    replay safety comes from foreachBatch batchId bookkeeping).

    Scale note: in production the state lives in a hash-bucketed lake
    table (sources/sinks.py upsert_parquet) so each micro-batch
    rewrites only the buckets its hashes land in.
    """
    # Contract (fuzz-pinned): doc_id is the corpus key and is REQUIRED
    # — a null-id document cannot be a survivor nor be counted against
    # one deterministically, and id-based batch splits would silently
    # route such rows to no batch at all (breaking incremental ==
    # rebuild). NULL text is fine: it forms its own NULL-hash group.
    batch = batch.filter(F.col("doc_id").isNotNull())
    inc = (
        batch.select(F.md5(normalized_text("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("b_keep"),
            F.count(F.lit(1)).alias("b_copies"),
        )
    )
    if seen is None:
        return inc.select(
            "text_hash",
            F.col("b_keep").alias("keep_doc_id"),
            F.col("b_copies").alias("n_copies"),
        )
    # NULL-SAFE merge key: md5(NULL text) is NULL, and a plain
    # full-outer equi-join would never merge the NULL-hash group
    # across batches (one stray state row per batch, diverging from
    # the one-shot rebuild's single NULL group; fuzz-pinned).
    s, i = seen.alias("s"), inc.alias("i")
    return (
        s.join(i, F.col("s.text_hash").eqNullSafe(F.col("i.text_hash")), "full_outer")
        .select(
            F.coalesce(F.col("s.text_hash"), F.col("i.text_hash")).alias("text_hash"),
            F.least(
                F.coalesce(F.col("s.keep_doc_id"), F.col("i.b_keep")),
                F.coalesce(F.col("i.b_keep"), F.col("s.keep_doc_id")),
            ).alias("keep_doc_id"),
            (
                F.coalesce(F.col("s.n_copies"), F.lit(0))
                + F.coalesce(F.col("i.b_copies"), F.lit(0))
            ).alias("n_copies"),
        )
    )


def dedup_batch_survivors(seen: DataFrame | None, batch: DataFrame) -> DataFrame:
    """The rows of ``batch`` a streaming dedup stage should emit
    downstream: hash unseen in prior state AND first (min doc_id)
    within the batch for that hash. Anti-join on the hash + one
    min-agg — both on 16-byte keys."""
    hashed = batch.withColumn("text_hash", F.md5(normalized_text("text")))
    firsts = (
        hashed.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
    )
    fresh = (
        firsts
        if seen is None
        else firsts.join(seen.select("text_hash"), "text_hash", "left_anti")
    )
    return hashed.join(
        fresh, ["text_hash", "doc_id"], "left_semi"
    ).drop("text_hash")


@register(
    "dedup_apply_increment",
    oracle=f"""
    SELECT md5({_NORM}) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    WHERE doc_id IS NOT NULL
    GROUP BY md5({_NORM})
    """,
)
def dedup_apply_increment_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable replay of :func:`dedup_apply_increment`: fold
    the corpus through the incremental exact-dedup state maintainer in
    THREE disjoint micro-batches (doc_id mod 3) and return the final
    state table. The oracle is the ONE-SHOT dedup_exact SQL over the
    whole corpus — a green row proves incremental state == batch
    rebuild regardless of how documents were batched.

    Scale shape: each fold is one full-outer join on the 16-byte hash
    (O(batch + matched state)); in production each fold's output is
    persisted to the hash-bucketed state table, so the three-deep lazy
    plan here is a harness artifact.
    """
    d = load_table(spark, sf_dir, "documents")
    seen: DataFrame | None = None
    for i in range(3):
        seen = dedup_apply_increment(
            seen, d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
        )
    assert seen is not None
    return seen


# --- signature-only Jaccard estimation --------------------------------

_EST_MATCH_EXPR = " + ".join(
    f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
)


@register(
    "dedup_lsh_jaccard_est",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST({_EST_MATCH_EXPR} AS BIGINT) AS n_agree,
           CAST({_EST_MATCH_EXPR} AS DOUBLE) / {N_HASHES} AS jaccard_est
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    """,
)
def dedup_lsh_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only Jaccard estimation for LSH candidate pairs: the
    fraction of agreeing MinHash components is an unbiased estimator
    of the true Jaccard (the defining property of MinHash), so
    candidates can be thresholded WITHOUT ever rejoining the shingle
    sets — the middle tier of the production cascade between raw LSH
    collisions and exact verification (dedup_minhash_verified), and
    often the final tier at 100 TB: comparing two 16-int signatures is
    O(1) per pair vs O(|shingles|) for the exact join.

    Plan shape: candidate pairs (bucket-join-bounded) + two hash joins
    against the one-row-per-doc signature relation; per-pair work is
    16 integer equality checks. Nothing re-touches document text.
    """
    sig = _minhash_signature(spark, sf_dir)
    cand = _lsh_candidate_pairs(sig)
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    n_agree = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            n_agree.cast("bigint").alias("n_agree"),
            (n_agree.cast("double") / N_HASHES).alias("jaccard_est"),
        )
    )


_CC_SURV_ORACLE = (
    _CC_ORACLE.replace(
        "SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id\nFROM reach GROUP BY s ORDER BY doc_id",
        """, clusters AS (
  SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id FROM reach GROUP BY s
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
LEFT JOIN clusters c ON c.doc_id = d.doc_id
WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
ORDER BY d.doc_id""",
    )
)


@register("dedup_cc_survivors", oracle=_CC_SURV_ORACLE)
def dedup_cc_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus AFTER near-dup clustering — what the pipeline
    actually writes out: every document that is either untouched by
    any verified near-dup cluster or is its cluster's keeper
    (min doc_id). Completes the cascade: pairs -> clusters ->
    surviving rows.

    Plan shape: the cluster relation (tiny — only near-dup members)
    left-anti/semi joins back to the corpus by doc_id; at 100 TB the
    cluster side broadcasts and the corpus never shuffles.
    """
    d = load_table(spark, sf_dir, "documents")
    cc = dedup_cc_clusters(spark, sf_dir)
    drop = cc.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    return (
        d.join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# --- asymmetric containment (sub-document duplication) -----------------

_CONT_TAU_Q = 300_000  # containment threshold 0.30 (1e-6 quantum)


def _containment_directions(joined: DataFrame, inter_col) -> DataFrame:
    """(doc_a, doc_b, na, nb, inter) -> both ordered directions with
    quantized containment, from ONE pass: explode a 2-element struct
    array per pair instead of unionAll-ing two branch copies of the
    upstream cascade (Catalyst duplicates unshared union subtrees —
    measured as 2x the Generate count on the LSH twin's plan)."""
    pair = F.explode(
        F.array(
            F.struct(
                F.col("doc_a").alias("doc_src"),
                F.col("doc_b").alias("doc_dst"),
                F.col("na").alias("n_src"),
                inter_col.alias("inter"),
            ),
            F.struct(
                F.col("doc_b").alias("doc_src"),
                F.col("doc_a").alias("doc_dst"),
                F.col("nb").alias("n_src"),
                inter_col.alias("inter"),
            ),
        )
    )
    return (
        joined.select(pair.alias("p"))
        .select("p.*")
        .withColumn("cont_q", F.expr("(inter * 1000000) div n_src").cast("bigint"))
        .filter(F.col("cont_q") >= _CONT_TAU_Q)
    )


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM shingles a JOIN shingles b
        ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    conts AS (
      SELECT i.doc_a AS doc_src, i.doc_b AS doc_dst,
             sa.n AS n_src, i.c AS inter,
             CAST((i.c * 1000000) // sa.n AS BIGINT) AS cont_q
      FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
      UNION ALL
      SELECT i.doc_b, i.doc_a, sb.n, i.c,
             CAST((i.c * 1000000) // sb.n AS BIGINT)
      FROM inter i JOIN sizes sb ON sb.doc_id = i.doc_b)
    SELECT doc_src, doc_dst, n_src, inter, cont_q
    FROM conts WHERE cont_q >= {_CONT_TAU_Q}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-set CONTAINMENT |S_src ∩ S_dst| / |S_src| —
    the sub-document duplication detector Jaccard cannot be: a short
    document quoted whole inside a long one has containment ~1.0 but
    Jaccard ~|short|/|long| (arbitrarily small), so symmetric-threshold
    dedup misses exactly the quote/boilerplate-inclusion cases
    containment exists for. Emits BOTH directions of every
    shingle-sharing pair at/above 0.30, with the score as a
    1e-6-quantized integer ratio (one floor division on exact BIGINT
    counts — bit-identical cross-engine).

    Scale shape: identical to dedup_ngram_jaccard's — one shingle
    explode, the intersection from the shingle-equality self-join
    (all-pairs-sharing-a-shingle: the EXACTNESS BASELINE, documented as
    such), sizes as a per-doc hash agg, direction expansion as a
    UNION ALL of two joins against the one inter relation. At 100 TB
    the production path restricts the same containment arithmetic to
    LSH candidates exactly like dedup_minhash_verified restricts
    Jaccard — same cascade, different decision rule (and because
    containment >= Jaccard for the smaller side, banded MinHash recall
    at a given threshold is strictly better for the src-side test).
    """
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    # BOTH directions from ONE joined relation via a 2-struct explode —
    # a unionAll of fwd/rev branches would duplicate the entire
    # shingle-join subtree (Catalyst does not share it; caught by the
    # Generate-count plan pin on the LSH twin).
    joined = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", F.col("sa.n").alias("na"), F.col("sb.n").alias("nb"), "c")
    )
    return _containment_directions(joined, F.col("c"))


@register(
    "dedup_containment_lsh",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    {_SQL_XSETS},
    conts AS (
      SELECT c.doc_a AS doc_src, c.doc_b AS doc_dst,
             CAST(len(sa.arr) AS BIGINT) AS n_src,
             CAST(len(list_intersect(sa.arr, sb.arr)) AS BIGINT) AS inter
      FROM cand c
      JOIN xsets sa ON sa.doc_id = c.doc_a
      JOIN xsets sb ON sb.doc_id = c.doc_b
      UNION ALL
      SELECT c.doc_b, c.doc_a,
             CAST(len(sb.arr) AS BIGINT),
             CAST(len(list_intersect(sa.arr, sb.arr)) AS BIGINT)
      FROM cand c
      JOIN xsets sa ON sa.doc_id = c.doc_a
      JOIN xsets sb ON sb.doc_id = c.doc_b)
    SELECT doc_src, doc_dst, n_src, inter,
           CAST((inter * 1000000) // n_src AS BIGINT) AS cont_q
    FROM conts WHERE (inter * 1000000) // n_src >= {_CONT_TAU_Q}
    """,
)
def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_containment's PRODUCTION twin: the same asymmetric
    containment decision rule restricted to banded-MinHash-LSH
    candidate pairs — candidate generation is bucket-join-bounded and
    verification is array intersection on the compact per-doc
    shingle-HASH sets collected in the signature pass, so after the
    one shingle explode nothing re-touches shingles (the
    dedup_minhash_verified cascade shape, different arithmetic).
    Containment here is over 60-bit shingle hashes and set sizes are
    distinct-hash counts — the oracle computes the identical hashed
    sets, so the check stays value-exact.

    Recall contract (the asymmetry cost, stated honestly): the bands
    are tuned for JACCARD ~0.5+, and a short-doc-quoted-in-long pair
    has high containment but low Jaccard, so THIS variant can miss
    exactly the pairs the containment rule exists for. Production
    fixes recall with more permissive banding — the
    ``(n_bands, rows_per_band)`` knob on :func:`_containment_lsh_frame`
    / :func:`_lsh_candidate_pairs`; 16x1 or 8x2 instead of the default
    4x4 is a strict candidate superset at the same hash budget — or
    per-src-size-stratified thresholds. The exact baseline
    (dedup_containment) is the recall oracle to tune against, and
    ``dedup_containment_recall`` MEASURES the gap per containment band
    as a registered, oracle-checked op (VERDICT r6 item 3).

    Mega-doc routing (same cap contract as dedup_minhash_verified): a
    doc above {_XS_CAP} words collects an empty hash set, so when the
    cheap corpus probe finds any such doc the whole op verifies
    through the candidate-restricted exploded-hash join instead —
    exact for every doc size, chosen per-corpus, never silently wrong.

    Construction-time exception (documented in text.py's laziness
    note): the probe runs two bounded ``limit(1).count()`` jobs when
    the PLAN is built, not when it executes — the plan SHAPE is
    data-dependent, and the lazy alternatives (per-pair union gating)
    either replay the signature cascade per branch or force an eager
    checkpoint; two early-exit narrow scans of one column are cheaper
    than both at every corpus size.
    """
    return _containment_lsh_frame(load_table(spark, sf_dir, "documents"))


def _containment_lsh_frame(
    docs: DataFrame,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """dedup_containment_lsh's body with the banding knob exposed:
    permissive banding (more bands, fewer rows each) widens the
    candidate set to recover the short-in-long pairs Jaccard-tuned
    bands miss — see dedup_containment_recall for the measurement."""
    has_mega = probes.exists(
        docs.filter(F.length("text") * 3 >= _XS_CAP)
    ) and probes.exists(
        docs.filter(F.size(F.split(normalized_text("text"), " ")) > _XS_CAP)
    )
    sig = _minhash_signature_from(_shingles_counted(docs), with_sets=True)
    if not has_mega:
        # Materialize the signature relation ONCE (OPTIMIZATION_r13) —
        # the same three-consumer shape as _verified_pairs (cand +
        # both xs sides re-derive sig through differently-pruned
        # subtrees, so AQE exchange reuse cannot fire and the whole
        # shingle-explode + md5 + aggregation chain ran twice); see
        # the measured rationale there. Only on the no-mega path: the
        # mega fallback consumes sig through cand ALONE, where
        # Catalyst prunes the collect_set out of the aggregate — a
        # checkpoint there would force the xs arrays nobody reads.
        sig = sig.localCheckpoint()
    cand = _lsh_candidate_pairs(sig, n_bands, rows_per_band)

    if not has_mega:
        side = sig.select("doc_id", "xs")
        sa = side.select(F.col("doc_id").alias("da"), F.col("xs").alias("xa"))
        sb = side.select(F.col("doc_id").alias("db"), F.col("xs").alias("xb"))
        joined = (
            cand.join(sa, F.col("doc_a") == F.col("da"))
            .join(sb, F.col("doc_b") == F.col("db"))
            .select(
                "doc_a", "doc_b",
                F.size("xa").cast("bigint").alias("na"),
                F.size("xb").cast("bigint").alias("nb"),
                F.size(F.array_intersect("xa", "xb")).cast("bigint").alias("inter"),
            )
        )
    else:
        # exact fallback: candidate-restricted exploded-hash joins
        x = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint")
        hashed = sh.select("doc_id", x.alias("x")).distinct()
        sizes = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        ha = hashed.select(F.col("doc_id").alias("da"), F.col("x").alias("va"))
        hb = hashed.select(F.col("doc_id").alias("db"), F.col("x").alias("vb"))
        inter = (
            cand.join(ha, F.col("doc_a") == F.col("da"))
            .join(hb, (F.col("doc_b") == F.col("db")) & (F.col("va") == F.col("vb")))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
        )
        joined = (
            inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
            .select("doc_a", "doc_b", "na", "nb", "inter")
        )

    return _containment_directions(joined, F.col("inter"))


@register(
    "dedup_containment_lsh_permissive",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_sql_bands(16, 1)},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    {_SQL_XSETS},
    conts AS (
      SELECT c.doc_a AS doc_src, c.doc_b AS doc_dst,
             CAST(len(sa.arr) AS BIGINT) AS n_src,
             CAST(len(list_intersect(sa.arr, sb.arr)) AS BIGINT) AS inter
      FROM cand c
      JOIN xsets sa ON sa.doc_id = c.doc_a
      JOIN xsets sb ON sb.doc_id = c.doc_b
      UNION ALL
      SELECT c.doc_b, c.doc_a,
             CAST(len(sb.arr) AS BIGINT),
             CAST(len(list_intersect(sa.arr, sb.arr)) AS BIGINT)
      FROM cand c
      JOIN xsets sa ON sa.doc_id = c.doc_a
      JOIN xsets sb ON sb.doc_id = c.doc_b)
    SELECT doc_src, doc_dst, n_src, inter,
           CAST((inter * 1000000) // n_src AS BIGINT) AS cont_q
    FROM conts WHERE (inter * 1000000) // n_src >= {_CONT_TAU_Q}
    """,
)
def dedup_containment_lsh_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_containment_lsh at PERMISSIVE banding (16 bands x 1 row
    vs the default 4x4, same 16-hash signature) — the documented
    recall fix for short-in-long containment pairs, registered
    end-to-end so the fix itself is oracle-attested, not just
    exercisable. Per-hash candidate probability under permissive
    banding is the raw Jaccard j (P(any band) = 1-(1-j)^16 ~ 1 for
    j >= 0.25), so the pairs the Jaccard-tuned default misses — high
    containment, low Jaccard — collide here; the price is a candidate
    set that grows toward the per-hash collision volume, which is why
    production chooses per-corpus via the dedup_containment_recall
    ledger rather than defaulting to it. Everything else (compact
    hash-set verification, mega-doc fallback, scale shape) is
    _containment_lsh_frame's."""
    return _containment_lsh_frame(
        load_table(spark, sf_dir, "documents"), n_bands=16, rows_per_band=1
    )


_CONT_RECALL_ORACLE = f"""
WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_XSETS},
esizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM shingles GROUP BY doc_id),
einter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM shingles a JOIN shingles b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
econts AS (
  SELECT i.doc_a AS doc_src, i.doc_b AS doc_dst,
         CAST((i.c * 1000000) // sa.n AS BIGINT) AS cont_q
  FROM einter i JOIN esizes sa ON sa.doc_id = i.doc_a
  UNION ALL
  SELECT i.doc_b, i.doc_a, CAST((i.c * 1000000) // sb.n AS BIGINT)
  FROM einter i JOIN esizes sb ON sb.doc_id = i.doc_b),
exact AS (SELECT doc_src, doc_dst, cont_q FROM econts
          WHERE cont_q >= {_CONT_TAU_Q}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id),
lconts AS (
  SELECT c.doc_a AS doc_src, c.doc_b AS doc_dst,
         CAST(len(sa.arr) AS BIGINT) AS n_src,
         CAST(len(list_intersect(sa.arr, sb.arr)) AS BIGINT) AS inter
  FROM cand c
  JOIN xsets sa ON sa.doc_id = c.doc_a
  JOIN xsets sb ON sb.doc_id = c.doc_b
  UNION ALL
  SELECT c.doc_b, c.doc_a,
         CAST(len(sb.arr) AS BIGINT),
         CAST(len(list_intersect(sa.arr, sb.arr)) AS BIGINT)
  FROM cand c
  JOIN xsets sa ON sa.doc_id = c.doc_a
  JOIN xsets sb ON sb.doc_id = c.doc_b),
lsh AS (
  SELECT doc_src, doc_dst FROM lconts
  WHERE (inter * 1000000) // n_src >= {_CONT_TAU_Q})
SELECT band, n_exact, n_hit,
       CAST((n_hit * 1000000) // n_exact AS BIGINT) AS recall_q
FROM (
  SELECT CAST(e.cont_q // 100000 AS BIGINT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(COUNT(l.doc_src) AS BIGINT) AS n_hit
  FROM exact e LEFT JOIN lsh l
    ON e.doc_src = l.doc_src AND e.doc_dst = l.doc_dst
  GROUP BY 1) t
ORDER BY band
"""


@register("dedup_containment_recall", oracle=_CONT_RECALL_ORACLE)
def dedup_containment_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of dedup_containment_lsh against the exact
    containment baseline (VERDICT r6 item 3), stratified by
    containment band (cont_q // 1e5, i.e. 0.1-wide bands from the 0.30
    threshold up): per band, how many exact pairs the banded-LSH twin
    reproduced. The documented miss mode — short-in-long quotes whose
    containment is high but Jaccard low — shows up as depressed recall
    in the HIGH bands, which is exactly what per-band stratification
    makes visible; a flat count would hide it inside the easy
    mid-band mass. recall_q is a 1e-6-quantized integer ratio on exact
    BIGINT counts, so the ledger hash-matches cross-engine.

    The knob this measures: _containment_lsh_frame(n_bands,
    rows_per_band) — permissive banding (16x1 / 8x2 vs the default
    4x4) is a strict candidate superset at the same hash budget;
    tests/test_similarity.py pins that it only adds recall, and this
    ledger is what production reads to decide whether to pay for it.

    Scale shape: composes the two registered ops and joins on the
    directed pair key — pair-count-sized inputs (already
    threshold-filtered), one hash agg over <= 11 bands; the expensive
    side is the exact baseline, which at 100 TB runs on a sampled
    stratum exactly like sim_eval_recall's brute-force side.
    """
    exact = dedup_containment(spark, sf_dir).select("doc_src", "doc_dst", "cont_q")
    lsh = dedup_containment_lsh(spark, sf_dir).select(
        F.col("doc_src").alias("l_src"), F.col("doc_dst").alias("l_dst")
    )
    return (
        exact.join(
            lsh,
            (F.col("doc_src") == F.col("l_src"))
            & (F.col("doc_dst") == F.col("l_dst")),
            "left",
        )
        .groupBy(F.expr("cont_q div 100000").cast("bigint").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.count("l_src").cast("bigint").alias("n_hit"),
        )
        .withColumn(
            "recall_q", F.expr("(n_hit * 1000000) div n_exact").cast("bigint")
        )
        .orderBy("band")
    )


# --- split leakage: near-dups crossing the train/val/test boundary ----

_LEAK_TAU = 0.8  # near-dup threshold for leakage purposes
# tau-ORDERING CONTRACT (VERDICT r7 item 4): split_leakage_repair's
# zero-cross-split guarantee holds at any check threshold >= the CC
# clustering threshold — a pair at jaccard >= check-tau >= _CC_THRESHOLD
# is clustered, so both members get the same repaired split. A check
# run at tau BELOW _CC_THRESHOLD could surface unclustered pairs the
# repair never saw, so _leakage_check_frame raises on it rather than
# silently reporting "leaks" the repair is not contracted to fix.
# Explicit raise, not `assert` — asserts are stripped under python -O,
# and this contract must survive an optimized deployment (ADVICE r8).
if _LEAK_TAU < _CC_THRESHOLD:
    raise ValueError(
        f"_LEAK_TAU {_LEAK_TAU} < _CC_THRESHOLD {_CC_THRESHOLD}: "
        "check-tau must be >= CC clustering tau"
    )


def _leakage_check_frame(docs: DataFrame, sp: DataFrame, tau: float = _LEAK_TAU) -> DataFrame:
    """split_leakage_check's body over arbitrary docs + (doc_id, split)
    assignment, with the threshold exposed — tests re-run the check
    against REPAIRED assignments at multiple thresholds. Raises when
    ``tau`` < the CC clustering threshold (see the tau-ordering
    contract above)."""
    if tau < _CC_THRESHOLD:
        raise ValueError(
            f"check tau {tau} < CC clustering tau {_CC_THRESHOLD}: the "
            "repair invariant only covers pairs the CC pass clustered"
        )
    pairs = _verified_pairs(docs).filter(F.col("jaccard") >= tau)
    return (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")),
            "doc_b",
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn("is_leak", F.col("split_a") != F.col("split_b"))
    )


@register(
    "split_leakage_check",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    {_SQL_XSETS}, {_SQL_VERIFIED},
    sp AS (
      SELECT doc_id,
             CASE WHEN b >= 'f0' THEN 'test'
                  WHEN b >= 'e0' THEN 'val'
                  ELSE 'train' END AS split
      FROM (SELECT doc_id,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b
            FROM documents) x)
    SELECT sa.split AS split_a, sb.split AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           sa.split <> sb.split AS is_leak
    FROM verified v
    JOIN sp sa ON sa.doc_id = v.doc_a
    JOIN sp sb ON sb.doc_id = v.doc_b
    WHERE v.jaccard >= {_LEAK_TAU}
    GROUP BY sa.split, sb.split
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene ledger: near-duplicate pairs (verified Jaccard >=
    {tau}) grouped by the splits their members land in — any row with
    ``is_leak`` true means a test/val document has a near-duplicate in
    another split, i.e. the held-out set is contaminated and its
    numbers are soft. This is the check every eval pipeline should run
    and almost none do at scale: hash-stable splits
    (sample.with_split) prevent rows MOVING across splits, but cannot
    prevent two near-identical documents from landing on opposite
    sides — only a dedup pass joined against the split assignment sees
    that. Composes the verified MinHash cascade (bucket-bounded
    candidates, compact hash-set verification) with the split function
    the split op itself pins; counts are exact BIGINTs, and the
    jaccard >= {tau} cut compares identically cross-engine (one IEEE
    division on identical integer operands).

    Production remediation is downstream of this ledger: move the
    whole near-dup CLUSTER to one split (dedup_cc_clusters gives the
    cluster ids) or drop the cross-split twin from train.

    tau-ordering contract: this check runs at tau={tau} >= the CC
    clustering threshold, which is what makes split_leakage_repair's
    zero-leak guarantee apply to every pair this ledger can surface;
    a lower tau raises in ``_leakage_check_frame`` (tested at both
    thresholds in test_similarity.py).

    Scale shape: pair-count-sized inputs after the cascade; the split
    relation is a narrow hash map of the corpus joined on doc id; one
    <=9-group hash agg. The cascade dominates, and it is the same
    cascade dedup_minhash_verified already pays.
    """
    from .sampling import with_split

    docs = load_table(spark, sf_dir, "documents")
    sp = with_split(docs, "doc_id").select("doc_id", "split")
    return _leakage_check_frame(docs, sp)


_SQL_SPLIT = """
sp AS (
  SELECT doc_id,
         CASE WHEN b >= 'f0' THEN 'test'
              WHEN b >= 'e0' THEN 'val'
              ELSE 'train' END AS split
  FROM (SELECT doc_id,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b
        FROM documents WHERE doc_id IS NOT NULL) x)
"""


@register(
    "split_leakage_repair",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    {_SQL_XSETS},
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN xsets sa ON sa.doc_id = c.doc_a
      JOIN xsets sb ON sb.doc_id = c.doc_b
      WHERE {_SQL_VERIFIED_JACCARD} >= {_CC_THRESHOLD}),
    sym AS (
      SELECT doc_a AS s, doc_b AS d FROM verified
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM verified),
    reach(s, d) AS (
      SELECT s, d FROM sym
      UNION
      SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s),
    cc AS (
      SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
      FROM reach GROUP BY s),
    {_SQL_SPLIT},
    rep AS (
      SELECT c.doc_id, spc.split AS cluster_split
      FROM cc c JOIN sp spc ON spc.doc_id = c.cluster_id)
    SELECT sp.doc_id, sp.split,
           COALESCE(rep.cluster_split, sp.split) AS repaired_split,
           COALESCE(rep.cluster_split, sp.split) <> sp.split AS moved
    FROM sp LEFT JOIN rep ON rep.doc_id = sp.doc_id
    """,
)
def split_leakage_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remediation split_leakage_check's ledger calls for: every
    near-dup CLUSTER (connected component of verified Jaccard >=
    {_CC_THRESHOLD} pairs) is reassigned WHOLE to one split — the
    split of the cluster's min-id member, the same deterministic
    keeper rule the dedup cascade uses — and unclustered documents
    keep their hash-stable split. By construction, no verified
    near-dup pair can cross the repaired boundary at any threshold >=
    the CC threshold (both members share a component, hence a cluster
    id, hence a repaired split) — re-running split_leakage_check on
    the repaired assignment yields zero is_leak rows, which
    tests/test_similarity.py pins as the invariant AT BOTH thresholds
    (check-tau {_LEAK_TAU} and the CC tau {_CC_THRESHOLD} itself).
    tau-ordering contract: the guarantee says nothing about pairs
    below the CC threshold, so a check at tau < {_CC_THRESHOLD}
    RAISES in ``_leakage_check_frame`` instead of reporting leaks
    this repair never contracted to fix. The output is the
    corpus-sized (doc_id, split, repaired_split, moved) ledger a
    dataset writer partitions by.

    Scale shape: the CC cascade dominates and is the same one
    dedup_cc_clusters already pays (localCheckpoint-bounded fixpoint);
    the repair itself is two hash joins on doc ids against the narrow
    split map. Moved fraction is bounded by the clustered fraction of
    the corpus — tiny on a deduplicated lake, and the op is exactly
    how you keep it honest over time.
    """
    from .sampling import with_split

    docs = load_table(spark, sf_dir, "documents")
    sp = with_split(
        docs.where(F.col("doc_id").isNotNull()), "doc_id"
    ).select("doc_id", "split")
    cc = dedup_cc_clusters(spark, sf_dir)
    rep = cc.join(
        sp.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("split").alias("cluster_split"),
        ),
        "cluster_id",
    ).select("doc_id", "cluster_split")
    return sp.join(rep, "doc_id", "left").select(
        "doc_id",
        "split",
        F.coalesce("cluster_split", "split").alias("repaired_split"),
        (F.coalesce("cluster_split", "split") != F.col("split")).alias("moved"),
    )
