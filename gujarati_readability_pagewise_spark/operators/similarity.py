"""Similarity search over embedding columns (array<float>).

Families, all ranking with one per-query top-k rule (``_topk``):

* brute force (``brute_force_topk``): exact cross join + cosine — the
  oracle of LSH precision/recall and of IVF full-probe.
* hyperplane LSH (``lsh_topk`` multi-probe, ``lsh_near_pairs`` banded):
  bit-packed sign-of-dot signatures over deterministic ±1 hyperplanes
  (md5 of (plane, dim): no RNG state, so retries are deterministic, and
  no UDF); candidates share a signature block and are re-ranked exactly.
* fixed-point IVF (``ivf_train_fixedpoint``, ``ivf_topk_deterministic``),
  int8 (``int8_quantize``, ``quantized_topk``), SemDeDup
  (``semantic_dedup``), ``decontaminate_semantic``, ``pool_embeddings``.

The cosine's ``aggregate(zip_with)`` fold is the oracle of its unrolled
(``dim``) form, and the signature's is its rule written in Python (both
tested); DuckDB re-derives every contract query of these families.

At 10^12 rows the LSH signature is one narrow map; the candidate join
shuffles (signature, id) pairs, not vectors; only candidate pairs touch the
full embedding via the re-rank join.
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = [
    "cosine",
    "brute_force_topk",
    "plane_signs",
    "lsh_topk",
    "lsh_near_pairs",
    "ivf_train_fixedpoint",
    "ivf_topk_deterministic",
    "int8_quantize",
    "quantized_topk",
    "semantic_dedup",
]


def cosine(a, b, dim: int | None = None):
    """Cosine similarity between two array columns.

    Without ``dim`` it is the ``aggregate(zip_with(...))`` fold over
    Columns or names.  With ``dim`` (column NAMES only) the dot/norm sums
    are UNROLLED into one SQL expression chain — the higher-order fold
    falls out of whole-stage codegen into the interpreted evaluator and
    measures ~5-10× slower per row, and one SQL string is one py4j
    round-trip instead of ~3·dim Column-operator calls.  Both forms are
    bit-identical: the unrolled left-associated adds reproduce the fold's
    accumulation order, and each float product is cast to double exactly
    as the fold's ``acc + v`` promotion does.
    """
    if dim is not None:
        if not (isinstance(a, str) and isinstance(b, str)):
            raise TypeError("cosine(..., dim=) takes column names, not Columns")
        dot_sql = lambda x, y: " + ".join(
            f"CAST({x}[{i}] * {y}[{i}] AS DOUBLE)" for i in range(dim)
        )
        return F.expr(
            f"({dot_sql(a, b)}) / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"
        )
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )
    return dot / (norm(a) * norm(b))


def _topk(pairs: DataFrame, score: str, k: int) -> DataFrame:
    """Per-query top-``k`` of (q_id, c_id, ``score``) rows: highest score
    first, ties broken by the lower candidate id; adds the 1-based ``rk``."""
    w = W.partitionBy("q_id").orderBy(F.desc(score), F.asc("c_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", score, "rk")
    )


def _infer_dim(emb: DataFrame, vec_col: str) -> int:
    """Length of the first vector: one driver-side probe when no ``dim``."""
    row = emb.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError("cannot infer embedding dim from an empty corpus; pass dim=")
    return len(row[0])


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k: (q_id, c_id, cos_sim, rk).  Pass ``dim`` to unroll the
    cosine into codegen-able expressions (bit-identical, ~5-10x faster)."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb"))
    c = emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_emb"))
    pairs = (
        q.crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            cosine("q_emb", "c_emb", dim).alias("cos_sim"),
        )
    )
    return _topk(pairs, "cos_sim", k)


def plane_signs(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5(plane, dim) parity."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).digest()
            row.append(1.0 if h[0] & 1 else -1.0)
        planes.append(row)
    return planes


def _signature(vec_col: str, planes: list[list[float]]):
    """Bit-packed hyperplane signature as a small int expression.

    Bit ``b`` is set iff the left-to-right double sum of the ±float
    components ``planes[b][d] · vec[d]`` is > 0 (so ±0.0 sums clear it);
    tests check this SQL form against that rule written in Python.  The
    per-plane dot is UNROLLED: weights are ±1, so it is a plain chain of
    ``± vec[d]`` double adds — whole-stage-codegen-able, vs the
    interpreted ``aggregate(zip_with(...))`` fold (~6× slower per row) —
    built as one SQL string (one py4j round-trip vs thousands of Column
    ops).
    """
    terms = []
    for b, row in enumerate(planes):
        dot = " + ".join(
            f"CAST({vec_col}[{d}] AS DOUBLE)"
            if w > 0
            else f"CAST((- {vec_col}[{d}]) AS DOUBLE)"
            for d, w in enumerate(row)
        )
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << b} ELSE 0 END)")
    return F.expr(f"CAST({' + '.join(terms)} AS INT)")


def _probe_flips(n_planes: int, probe_radius: int) -> list[int]:
    """Signature XOR masks for multi-probe: all bucket ids within Hamming
    distance ``probe_radius`` of the query's own bucket (0 = own bucket)."""
    from itertools import combinations

    flips = [0]
    for r in range(1, probe_radius + 1):
        for bits in combinations(range(n_planes), r):
            flips.append(sum(1 << b for b in bits))
    return flips


def _fp_expr(vec_col: str, dim: int, fp_scale: int):
    """``efp``: the fixed-point (scaled BIGINT) image of a float vector.
    floor(double(x)·S) is exact and identical across engines."""
    terms = ", ".join(
        f"CAST(floor(CAST({vec_col}[{d}] AS DOUBLE) * {fp_scale}) AS BIGINT)"
        for d in range(dim)
    )
    return F.expr(f"array({terms})").alias("efp")


def _d2_fp(efp, cent):
    """Integer squared L2 distance between two BIGINT fixed-point vectors —
    order-insensitive exact arithmetic (sum of products of longs)."""
    return F.aggregate(
        F.zip_with(efp, cent, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _centroids(spark: SparkSession, cents: dict[int, list[int]]) -> DataFrame:
    """The (cell, cent) table, broadcast: n_cells tiny rows."""
    return F.broadcast(
        local_frame(spark, sorted(cents.items()), "cell int, cent array<bigint>")
    )


def _nearest_cell(rows: DataFrame, key: str, cents: DataFrame, *carry: str) -> DataFrame:
    """(key, cell, *carry): each ``rows`` id (with its ``efp``) in the cell
    of least integer distance, ties to the lower cell."""
    return (
        rows.crossJoin(cents)
        .select(key, *carry, "cell", _d2_fp(F.col("efp"), F.col("cent")).alias("d2"))
        .groupBy(key)
        .agg(F.min(F.struct("d2", "cell", *carry)).alias("m"))
        .select(key, F.col("m.cell").alias("cell"), *[F.col(f"m.{c}").alias(c) for c in carry])
    )


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — Spark ``div`` and DuckDB
    ``//`` semantics (python ``//`` floors, which differs for negatives)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def ivf_train_fixedpoint(
    emb: DataFrame,
    n_cells: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    fp_scale: int = 1 << 20,
) -> dict[int, list[int]]:
    """Deterministic Lloyd k-means over fixed-point integer vectors.

    Returns {cell: centroid} with centroids as scaled-BIGINT lists (tiny:
    n_cells × dim — driver-side by design, exactly like a FAISS coarse
    quantizer trained once and frozen).  Every operation is integer
    arithmetic: the fixed-point image floor(double(x)·S) is exact, squared
    distances and per-cell sums are BIGINT (order-insensitive), and the
    centroid update is integer mean (truncating division).  Hence the
    trained centroids are independent of partitioning, task retries, and
    engine — a DuckDB oracle re-derives them bit-for-bit, and a resumed
    job re-trains to the identical quantizer.  Cells init from the
    ``n_cells`` lowest-id vectors; a cell that loses all members keeps its
    previous centroid.

    Scale shape per iteration: one broadcast of the centroid table, one
    map-side-combinable groupBy(cell) with dim integer sums — the corpus
    is scanned, never shuffled by vector.
    """
    spark = emb.sparkSession
    e = emb.select(F.col(id_col).alias("_id"), _fp_expr(vec_col, dim, fp_scale)).persist()
    try:
        cents: dict[int, list[int]] = {
            int(r["_id"]): [int(v) for v in r["efp"]]
            for r in e.filter(F.col("_id") < n_cells).collect()
        }
        if len(cents) < n_cells:
            raise ValueError(
                f"need ids 0..{n_cells - 1} present to seed {n_cells} cells"
            )
        for _ in range(n_iter):
            assign = _nearest_cell(e, "_id", _centroids(spark, cents))
            sums = (
                assign.join(e, "_id")
                .groupBy("cell")
                .agg(
                    F.count("*").alias("n"),
                    *[F.sum(F.col("efp")[d]).alias(f"s{d}") for d in range(dim)],
                )
                .collect()  # bounded: ≤ n_cells rows of dim+2 ints
            )
            for r in sums:
                cents[int(r["cell"])] = [
                    _trunc_div(int(r[f"s{d}"]), int(r["n"])) for d in range(dim)
                ]
    finally:
        e.unpersist()
    return cents


def _train_and_assign(emb, key, vec, n_cells, n_iter, id_col, vec_col, dim, fp_scale):
    """Train the fixed-point quantizer on ``emb`` and put every vector in
    its nearest cell: (centroid table, (key, cell, vec) rows)."""
    cents = _centroids(
        emb.sparkSession,
        ivf_train_fixedpoint(emb, n_cells, n_iter, id_col, vec_col, dim, fp_scale),
    )
    rows = emb.select(
        F.col(id_col).alias(key), F.col(vec_col).alias(vec), _fp_expr(vec_col, dim, fp_scale)
    )
    return cents, _nearest_cell(rows, key, cents, vec)


def ivf_topk_deterministic(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 2,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    fp_scale: int = 1 << 20,
) -> DataFrame:
    """IVF ANN top-k with a DETERMINISTIC fixed-point coarse quantizer.

    The FAISS-style shape (train → invert → probe → exact re-rank): every
    corpus vector lands in its nearest cell (the inverted list), each
    query probes its ``n_probe`` nearest cells and re-ranks the candidates
    exactly, so candidate cost is ~``n_probe/n_cells`` of the corpus
    (``n_probe == n_cells`` ≡ brute force).  The quantizer is
    ``ivf_train_fixedpoint``, so the END-TO-END result is engine- and
    partitioning-exact: assignment and probe order use integer distances
    with (d2, cell) tie-breaks, and the re-rank uses the same
    float-multiply/double-accumulate cosine as the brute-force baseline.
    That is what puts it under the SQL oracle gate, and what production
    wants — a retried or resumed job must not re-bucket the corpus
    differently.
    """
    cdf, c_assign = _train_and_assign(
        emb, "c_id", "c_emb", n_cells, n_iter, id_col, vec_col, dim, fp_scale
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb"),
        _fp_expr(vec_col, dim, fp_scale),
    )
    wq = W.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("cell"))
    probed = (
        q.crossJoin(cdf)
        .select("q_id", "q_emb", "cell", _d2_fp(F.col("efp"), F.col("cent")).alias("d2"))
        .withColumn("cell_rk", F.row_number().over(wq))
        .filter(F.col("cell_rk") <= n_probe)
        .select("q_id", "q_emb", "cell")
    )
    pairs = (
        probed.join(c_assign, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cosine("q_emb", "c_emb", dim).alias("cos_sim"))
    )
    return _topk(pairs, "cos_sim", k)


def int8_quantize(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
):
    """Symmetric per-dimension int8 quantization of an embedding column.

    The standard 4× memory/bandwidth saving for ANN at 10^12 vectors:
    scale_d = 127 / max|x_d| over the corpus (one max-aggregation pass —
    both the max and the division are exact, identical doubles in any
    engine), q_d = clamp(floor(x_d·scale_d + 0.5), −127, 127) —
    floor(x+0.5) is round-half-toward-+inf, deterministic everywhere,
    unlike banker's/HALF_UP library rounding.  All-zero dimensions get
    scale 0 (quantize to 0) instead of a division by zero.

    Returns (quantized DataFrame with ``q`` array<int>, scales list) — the
    scales are driver-side (dim floats) so queries can reuse them.
    """
    mx = emb.agg(
        *[F.max(F.abs(F.col(vec_col)[d])).alias(f"m{d}") for d in range(dim)]
    ).collect()[0]
    scales = [
        (127.0 / float(mx[f"m{d}"])) if mx[f"m{d}"] else 0.0 for d in range(dim)
    ]
    def _lit(x: float) -> str:
        r = repr(float(x))
        return r if "e" in r else r + "e0"  # force DOUBLE parse (bare
        # decimal literals are DECIMAL in Spark SQL and DuckDB alike)

    q_terms = ", ".join(
        f"CAST(greatest(least(floor({vec_col}[{d}] * {_lit(scales[d])} + 0.5e0),"
        " 127.0e0), -127.0e0) AS INT)"
        for d in range(dim)
    )
    out = emb.select(
        F.col(id_col), F.col(vec_col), F.expr(f"array({q_terms})").alias("q")
    )
    return out, scales


def quantized_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Top-k neighbours by INTEGER dot product over int8-quantized vectors.

    The candidate-scoring half of a quantized ANN stack: exact integer
    arithmetic (engine- and partitioning-independent, SQL-oracle-checkable
    end-to-end including the quantization itself), ~4× less data moved
    than float vectors, and whole-stage-codegen friendly (the unrolled
    integer chain never leaves the JVM).  Ties break on candidate id.
    Output: (q_id, c_id, dot_q, rk).
    """
    qemb, _scales = int8_quantize(emb, id_col, vec_col, dim)
    c = qemb.select(F.col(id_col).alias("c_id"), F.col("q").alias("cq"))
    qs = queries.select(F.col(id_col).alias("q_id")).join(
        qemb.select(F.col(id_col).alias("q_id"), F.col("q").alias("qq")), "q_id"
    )
    dot = " + ".join(f"CAST(qq[{d}] * cq[{d}] AS BIGINT)" for d in range(dim))
    pairs = (
        qs.crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", F.expr(f"({dot})").alias("dot_q"))
    )
    return _topk(pairs, "dot_q", k)


def lsh_near_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    bands: int = 2,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_partitions: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs at the crawl-scale shape: banded
    hyperplane-LSH blocking generates candidates, exact cosine verifies.

    The ``n_planes`` signature is split into ``bands`` independent bands
    (OR-amplification): a pair is a candidate iff ANY band matches, which
    lifts recall from p^n to 1-(1-p^r)^b for per-plane agreement p.  The
    candidate join is an equi-join on (band, band_sig) — ~12-byte rows, one
    shuffle, never all-pairs; only candidates touch the vectors in the
    cosine verify.  Replaces the crossJoin in the brute-force
    ``dedup_embedding`` baseline (same verify expression).
    Returns (a, b, cos) with a < b and cos > threshold.
    """
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    if n_planes % bands:
        raise ValueError(f"n_planes={n_planes} not divisible by bands={bands}")
    if n_partitions:  # spread the signature map over cores (single-file input)
        emb = emb.repartition(n_partitions, id_col)
    planes = plane_signs(n_planes, dim)
    r = n_planes // bands
    # one select per band, unioned: packing every band's unrolled signature
    # into a single explode projection exceeds the 64KB codegen method limit
    # (ERROR + interpreted fallback); per-band projections stay compiled
    banded = reduce(
        DataFrame.unionByName,
        [
            emb.select(
                F.col(id_col).alias("k"),
                F.lit(b).alias("band"),
                _signature(vec_col, planes[b * r : (b + 1) * r]).alias("bsig"),
            )
            for b in range(bands)
        ],
    )
    a = banded.select(F.col("k").alias("a"), "band", "bsig")
    b = banded.select(F.col("k").alias("b"), "band", "bsig")
    pairs = (
        a.join(b, ["band", "bsig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()  # a pair matching several bands counts once
    )
    # vectors enter only here, keyed by id — the candidate join above
    # shuffled ~12-byte (band, bsig, id) rows, never embeddings
    ea = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("ea"))
    eb = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("eb"))
    # verify cosine stays the fold form: it runs on the (small) candidate
    # set only, and the unrolled chain stacked on the join's whole-stage
    # span blows the 64KB codegen method limit (the hot per-corpus-row
    # expression — the signature — is the one that must stay compiled)
    return (
        pairs.join(ea, "a")
        .join(eb, "b")
        .select("a", "b", cosine(F.col("ea"), F.col("eb")).alias("cos"))
        .filter(F.col("cos") > threshold)
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k via hyperplane-signature blocking, multi-probe.

    Corpus vectors land in their own bucket; each query probes every bucket
    within Hamming distance ``probe_radius`` of its own — the standard
    multi-probe trick: near neighbours that straddle ``r`` hyperplanes are
    still found, at probe cost ``C(n,<=r)/2^n`` of the corpus.  Candidates
    are re-ranked exactly, so precision is 1; only recall is approximate.
    ``probe_radius`` is the recall/cost knob: 0 = own bucket only
    (cheapest, lowest recall), 1 = +n one-bit flips (default), 2 adds
    C(n,2) two-bit flips (recall → ~1 for near-duplicate workloads).
    """
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    planes = plane_signs(n_planes, dim)
    c = emb.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_emb"),
        _signature(vec_col, planes).alias("sig"),
    )
    probe_flips = F.array(*[F.lit(f) for f in _probe_flips(n_planes, probe_radius)])
    # compute the n_planes-dot-product signature ONCE per query row, then
    # derive every probe bucket by XOR after the explode — the Generate
    # node keeps project-collapsing from re-inlining the signature per flip
    q = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_emb"),
            _signature(vec_col, planes).alias("_sig"),
        )
        .select("q_id", "q_emb", "_sig", F.explode(probe_flips).alias("_flip"))
        .select(
            "q_id", "q_emb", F.col("_sig").bitwiseXOR(F.col("_flip")).alias("sig")
        )
    )
    pairs = (
        q.join(c, "sig")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            cosine("q_emb", "c_emb", dim).alias("cos_sim"),
        )
        .distinct()
    )
    return _topk(pairs, "cos_sim", k)


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.38,
    n_cells: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    fp_scale: int = 1 << 20,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup removal via
    cluster-then-dedup — k-means the embedding space, compare pairs ONLY
    within a cluster, keep one representative per connected group.

    The cluster step is what makes semantic dedup affordable: the
    within-cell self-join is quadratic in CELL size, not corpus size
    (10^12 vectors over 10^5 balanced cells is 10^9 bounded work per
    cell-pair pass, vs an impossible global cross join).  The quantizer
    is ``ivf_train_fixedpoint`` — deterministic integer Lloyd, so the
    cells (and therefore the whole dedup decision) are engine-,
    partitioning- and retry-independent, and a SQL oracle re-derives the
    end-to-end result.  Components use min-label propagation, so the
    representative is simply the lowest id of each duplicate group.

    Output: (id, cell, component, is_survivor) for every vector.
    """
    from .components import connected_components
    from .dedup import _persist

    _, assign = _train_and_assign(
        emb, "_id", "_emb", n_cells, n_iter, id_col, vec_col, dim, fp_scale
    )
    # registered persist (dedup._PERSISTED): the returned plan references
    # the assignment on three paths (both pair sides + the audit join), so
    # it must stay cached until the caller's action; release_persisted()
    # / clearCache() frees it afterwards — an eager unpersist here would
    # silently recompute the k-means assignment three times
    assign = _persist(assign)
    a = assign.select(
        F.col("_id").alias("a"), F.col("cell"), F.col("_emb").alias("ea")
    )
    b = assign.select(
        F.col("_id").alias("b"), F.col("cell"), F.col("_emb").alias("eb")
    )
    edges = (
        a.join(b, "cell")
        .filter(F.col("a") < F.col("b"))
        .filter(cosine("ea", "eb", dim) > threshold)
        .select("a", "b")
    )
    clusters = connected_components(edges)
    out = (
        assign.select(F.col("_id").alias(id_col), "cell")
        .join(clusters.withColumnRenamed("doc_id", id_col), id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
        .withColumn(
            "is_survivor",
            (F.col(id_col) == F.col("component")).cast("int"),
        )
    )
    return out


def decontaminate_semantic(
    corpus: DataFrame,
    evals: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-space decontamination: flag corpus vectors whose cosine
    to ANY held-out eval vector reaches ``threshold`` — the semantic
    sibling of the n-gram decontaminate (catches paraphrased or
    reformatted eval leakage that no 8-gram overlap sees).

    Deployment shape: eval suites are tiny (10^3–10^5 vectors), so the
    eval side BROADCASTS and the scan is one bounded-constant pass per
    corpus row — the same "small side drives the join" rule as the
    n-gram decontaminate; at extreme eval sizes the LSH-bucketed
    near-pair path (lsh_near_pairs / lsh_topk) is the refinement and this
    expression stays as its verify step.  Cosine uses the proven
    engine-exact zip_with/left-assoc form.  Output: one row per corpus
    vector — (key, n_eval_hits, max_cos, contaminated 0/1).
    """
    e = evals.select(
        F.col(key_col).alias("_eid"), F.col(vec_col).alias("_evec")
    )
    c = corpus.select(key_col, F.col(vec_col).alias("_cvec"))
    cos = cosine(F.col("_cvec"), F.col("_evec"))
    hits = (
        c.join(F.broadcast(e))
        .select(key_col, cos.alias("_cos"))
        .groupBy(key_col)
        .agg(
            F.sum(
                F.when(F.col("_cos") >= threshold, 1).otherwise(0)
            ).alias("n_eval_hits"),
            F.max("_cos").alias("max_cos"),
        )
    )
    return hits.select(
        key_col,
        "n_eval_hits",
        "max_cos",
        (F.col("n_eval_hits") > 0).cast("int").alias("contaminated"),
    )


def pool_embeddings(
    chunks: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Mean-pool chunk embeddings into one vector per group — the
    standard doc-embedding construction when the encoder embeds
    fixed-size chunks (long docs span several chunks; retrieval and
    SemDeDup want ONE vector per doc).

    Float mean-pooling cannot be engine-exact (per-position float sums
    accumulate in shuffle order), so each component is pooled in FIXED
    POINT: ``floor(v * scale)`` per chunk (floor, never round/cast —
    both engines floor identically; DuckDB's INT cast rounds half-even
    where Spark truncates), exact integer sums per (group, position),
    then ONE float division by the chunk count.  The result is
    bit-identical across engines and partitionings, at a quantization
    error ≤ 1/scale per component — the int8 path (int8_quantize) shows
    the same trade at coarser grain.

    Scale shape: posexplode fans each vector into dim rows; the
    (group, position) sums are map-side combinable, and the vector
    reassembles with one sort_array over dim entries per group — state
    bounded by dim, never by chunk count.  Output:
    (group, n_chunks, pooled array<double>).
    """
    d = chunks.select(
        F.col(group_col).alias("_grp"),
        F.posexplode(F.col(vec_col)).alias("_pos", "_v"),
    ).select(
        # widen float32 components to DOUBLE before the scale multiply:
        # a float32 product that is then widened floors differently than
        # a double product (the list_dot_product parity lesson)
        "_grp", "_pos",
        F.floor(F.col("_v").cast("double") * scale).cast("long").alias("_q"),
    )
    sums = d.groupBy("_grp", "_pos").agg(
        F.sum("_q").alias("_s"), F.count("*").alias("_n")
    )
    return (
        sums.groupBy("_grp")
        .agg(
            F.max("_n").alias("n_chunks"),  # every position sees every chunk
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_s", "_n"))),
                lambda x: x["_s"].cast("double") / scale / x["_n"].cast("double"),
            ).alias("pooled"),
        )
        .select(F.col("_grp").alias(group_col), "n_chunks", "pooled")
    )
