"""Product quantization (PQ, Jégou et al., TPAMI 2011) for the
vector-search path — the codebook sibling of the SQ8 scalar quantizer
(`quantization.py`) and the last piece of the reference's vector-index
tuning surface (its Qdrant twin exposes scalar AND product quantization;
`no-ocr-api/tests/lance_vs_qdrant.py:96-102` tunes the scalar knob).

PQ in one line: split each DIM-dim vector into M subspaces, k-means each
subspace into K centroids, store each vector as M tiny centroid ids
(M bytes at K=256) — then search never touches the original floats: a
query builds an M x K table of partial dot products once, and every
stored code scores as M table lookups (ADC, asymmetric distance
computation).

Spark-first, exact-oracle design (same discipline as `ann_ivf_kmeans`):

  * All arithmetic that crosses an aggregation boundary is EXACT INT64
    on the repo's deterministic 1e7-scaled quantization
    (`textexpr.quantize`), so sums are order-independent and the oracle
    is bit-equal: subspace assignment ranks round(cosine, 6) (cosine is
    scale-invariant, so int inputs are fine); centroid refit uses
    integer mean with half-away-from-zero rounding computed ONLY on
    non-negative operands, where Spark `div` and DuckDB `//` agree.
  * TRAIN (one Lloyd round, the real PQ codebook build): init each
    subspace's K centroids from vec_ids 1..K, assign every (vector,
    subspace) slice by max-cosine, refit as the rounded integer mean.
    Cost shape at scale: one broadcast(M*K codebook) x scan assignment
    + one groupBy whose cardinality is M*K*SUB — constant in corpus
    size, exactly like the IVF build.
  * ENCODE: final assignment emits (vec_id, m, code); the packed code
    is the hex concat in subspace order — M bytes per vector vs
    8*DIM bytes of float64 (64x at K<=256; the graded shape packs
    M=8 codes).
  * SEARCH (ADC): the M x K distance table holds EXACT int64 partial
    dots pdot(m,k) = <q_m, c_{m,k}> and centroid norms ||c_{m,k}||^2;
    a vector's score needs only its M codes: sum_m pdot(m, code_m) /
    (|q| * sqrt(sum_m |c_{m,code_m}|^2)) — the reconstruction-norm
    cosine. The int sums in the per-vector agg are order-independent,
    so the double division + round(6) is bit-identical across engines,
    partitionings, and cluster sizes.

At 100 TB: the codes table is the ONLY corpus-sized input to a PQ scan
(M bytes/row); the distance table is M*K rows built from the broadcast
codebook and the query alone — so ADC top-k is one map-only scan over
codes + TakeOrderedAndProject, no shuffle, no float reads. Training
stays constant-state: the codebook (M*K*SUB ints) broadcasts where even
SQ8's dim stats would; empty clusters simply drop out of the codebook
(both engines identically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions.textexpr import (
    DIM,
    array_lit,
    cosine,
    cosine_from,
    dot,
    quantize,
)
from no_ocr_spark.operators.retrieval import with_nearest_centroid
from no_ocr_spark.plans.partitioning import fan_out_for_cpu, materialize
from no_ocr_spark.sources.tables import load_table

M = 8                  # subspaces
SUB = DIM // M         # dims per subspace
K = 16                 # centroids per subspace (production: 256)
TOPK = 10


def _imean(s: str, n: str) -> str:
    """Half-away-from-zero integer mean, negative-safe: both branches
    divide non-negative ints, where Spark `div` == DuckDB `//` (the SQL
    is engine-shared — `div` is spelled by the caller)."""
    return (f"CASE WHEN {s} >= 0 THEN (2 * {s} + {n}) {{div}} (2 * {n}) "
            f"ELSE -((-2 * {s} + {n}) {{div}} (2 * {n})) END")


def _imean_py(s: int, n: int) -> int:
    """Python replay of _imean: both branches divide non-negative ints,
    where Python // (floor) == Spark div == DuckDB // (truncation and
    floor agree on non-negative operands)."""
    return (2 * s + n) // (2 * n) if s >= 0 else -((-2 * s + n) // (2 * n))


def _idot_py(a: list[int], b: list[int]) -> int:
    """Exact int64 dot in Python (arbitrary-precision == in-range int64)."""
    return sum(x * y for x, y in zip(a, b))


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook train (1 Lloyd round) -> M-byte codes -> ADC top-10
    for query = embedding(vec_id=0). Returns (vec_id, pq_code, score).

    The codebook is M*K rows of exact int64: it is collected per training
    step and inlined as literals, so every per-(vector, subspace)
    assignment is one map-side retrieval.with_nearest_centroid over a
    materialized slim frame (its dots are interpreted folds).
    The distance table and query norms are int64 arithmetic on the
    collected codebook, replayed in Python, where arbitrary-precision
    ints equal in-range int64 ops exactly."""
    emb = materialize(
        fan_out_for_cpu(
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding"),
            spark,
        )
        .select("vec_id", F.expr(quantize("spark", "embedding")).alias("qv"))
    )
    base = {
        int(r["vec_id"]): [int(v) for v in r["qv"]]
        for r in emb.filter(F.col("vec_id").between(0, K)).collect()
    }
    has_query = 0 in base
    qv0 = base.get(0, [0] * (M * SUB))
    # cents0[m] = subspace slices of vec_ids 1..K (exact int slicing)
    cents0 = {
        m: [(cid, base[cid][(m - 1) * SUB:m * SUB])
            for cid in sorted(base) if 1 <= cid <= K]
        for m in range(1, M + 1)
    }

    def encode(frame: DataFrame,
               cents: dict[int, list[tuple[int, list[int]]]]) -> DataFrame:
        """frame + the slices `_s{m}` of qv and their codes `_c{m}`: each
        slice's nearest centroid of `cents[m]`. A SUB-element dot of
        1e7-scaled ints is exact in a double while |components| <= 3
        (embeddings are unit vectors), so the assignment's double fold
        ranks the oracle's round(cosine, 6) bit for bit."""
        frame = frame.select(*frame.columns, *[
            F.expr(f"slice(qv, {(m - 1) * SUB + 1}, {SUB})").alias(f"_s{m}")
            for m in range(1, M + 1)])
        for m in range(1, M + 1):
            frame = with_nearest_centroid(frame, cents[m], vec=f"_s{m}") \
                .withColumnRenamed("cid", f"_c{m}")
        return frame

    enc0 = encode(emb.select("vec_id", "qv"), cents0)
    # one Lloyd refit: per (m, cid) integer sums of member slices +
    # count, as SUB codegen sum() aggregates after a single explode of
    # already-computed attribute columns (128-group shuffle)
    refit_rows = (
        enc0.select(F.explode(F.expr(
            "array({})".format(", ".join(
                f"named_struct('m', {m}, 'cid', _c{m}, 'sv', _s{m})"
                for m in range(1, M + 1)))
        )).alias("e"))
        .select("e.m", "e.cid", "e.sv")
        .groupBy("m", "cid")
        .agg(F.count("*").alias("n"),
             *[F.sum(F.element_at("sv", i + 1)).alias(f"s{i}")
               for i in range(SUB)])
        .collect()
    )
    cents1: dict[int, list[tuple[int, list[int]]]] = {
        m: [] for m in range(1, M + 1)
    }
    for r in refit_rows:
        cv = [_imean_py(int(r[f"s{i}"]), int(r["n"])) for i in range(SUB)]
        cents1[int(r["m"])].append((int(r["cid"]), cv))
    for m in cents1:
        cents1[m].sort()
    # ADC distance table + query norm: exact ints from the collected
    # codebook (vocab-sized driver math, the BPE-loop size class)
    qsub = {m: qv0[(m - 1) * SUB:m * SUB] for m in range(1, M + 1)}
    pdot = {m: {cid: _idot_py(qsub[m], cv) for cid, cv in cents1[m]}
            for m in cents1}
    cnorm2 = {m: {cid: _idot_py(cv, cv) for cid, cv in cents1[m]}
              for m in cents1}
    qn2 = _idot_py(qv0, qv0)

    def lut(table: dict[int, int]) -> str:
        """element_at array lookup by cid (1..K); holes (dropped empty
        clusters) are never referenced — assignment only emits
        surviving cids."""
        mx = max(table) if table else 1
        vals = [table.get(cid, 0) for cid in range(1, mx + 1)]
        return array_lit(vals)

    enc1 = encode(emb.filter(F.col("vec_id") != 0), cents1)
    sp = " + ".join(
        f"element_at({lut(pdot[m])}, cast(_c{m} as int))"
        for m in range(1, M + 1))
    sc2 = " + ".join(
        f"element_at({lut(cnorm2[m])}, cast(_c{m} as int))"
        for m in range(1, M + 1))
    code_hex = ", ".join(
        f"lpad(hex(_c{m}), 2, '0')" for m in range(1, M + 1))
    scored = (
        enc1.select(
            "vec_id",
            F.expr(f"concat({code_hex})").alias("pq_code"),
            F.expr(f"({sp})").alias("sp"),
            F.expr(f"({sc2})").alias("sc2"),
        )
        .select(
            "vec_id", "pq_code",
            F.expr(
                "CASE WHEN sc2 = 0 THEN -2.0 ELSE round("
                + cosine_from("spark", "cast(sp as double)",
                              f"cast({qn2}L as double)", "cast(sc2 as double)")
                + ", 6) END"
            ).alias("score"),
        )
    )
    if not has_query:
        # no vec_id=0: the old qnorm crossJoin made the result empty
        scored = scored.filter(F.lit(False))
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(TOPK)


def _pq_oracle() -> str:
    """DuckDB replay of q_ann_pq_topk: identical int arithmetic, so the
    codes AND scores are bit-equal (not just rank-equal)."""
    q = quantize("duckdb", "embedding")
    # null cosine (zero-norm slice) sinks
    asn0 = f"coalesce(round({cosine('duckdb', 's.sv', 'c.cv')}, 6), -2.0)"
    imean = _imean("s", "n").format(div="//")
    # exact int64 dots: 1e7-scaled components keep even the DIM-wide
    # query norm far below 2^63
    idot_qc = dot("duckdb", "q.qsv", "c.cv", "bigint")
    idot_cc = dot("duckdb", "c.cv", "c.cv", "bigint")
    idot_qq = dot("duckdb", "qv", "qv", "bigint")
    return f"""
        WITH qe AS (SELECT vec_id, {q} AS qv FROM embeddings),
        sub AS (
            SELECT vec_id, m,
                   list_slice(qv, (m - 1) * {SUB} + 1, m * {SUB}) AS sv
            FROM qe, generate_series(1, {M}) AS t(m)),
        c0 AS (SELECT m, vec_id AS cid, sv AS cv FROM sub
               WHERE vec_id BETWEEN 1 AND {K}),
        a1 AS (
            SELECT vec_id, m, sv, cid FROM (
                SELECT s.vec_id, s.m, s.sv, c.cid,
                       row_number() OVER (PARTITION BY s.vec_id, s.m
                           ORDER BY {asn0} DESC, c.cid ASC) AS rn
                FROM sub s JOIN c0 c ON s.m = c.m)
            WHERE rn = 1),
        sums AS (
            SELECT m, cid, i AS pos, sum(sv[i])::BIGINT AS s,
                   count(*)::BIGINT AS n
            FROM a1, generate_series(1, {SUB}) AS t(i)
            GROUP BY m, cid, i),
        c1 AS (
            SELECT m, cid, list({imean} ORDER BY pos) AS cv
            FROM sums GROUP BY m, cid),
        codes AS (
            SELECT vec_id, m, cid AS code FROM (
                SELECT s.vec_id, s.m, c.cid,
                       row_number() OVER (PARTITION BY s.vec_id, s.m
                           ORDER BY {asn0} DESC, c.cid ASC) AS rn
                FROM sub s JOIN c1 c ON s.m = c.m)
            WHERE rn = 1),
        qsub AS (SELECT m, sv AS qsv FROM sub WHERE vec_id = 0),
        dt AS (
            SELECT c.m, c.cid, ({idot_qc})::BIGINT AS pdot,
                   ({idot_cc})::BIGINT AS cnorm2
            FROM c1 c JOIN qsub q ON c.m = q.m),
        qn AS (SELECT ({idot_qq})::BIGINT AS qn2 FROM qe WHERE vec_id = 0),
        agg AS (
            SELECT k.vec_id, sum(d.pdot)::BIGINT AS sp,
                   sum(d.cnorm2)::BIGINT AS sc2,
                   string_agg(lpad(hex(k.code), 2, '0'), ''
                              ORDER BY k.m) AS pq_code
            FROM codes k JOIN dt d ON k.m = d.m AND k.code = d.cid
            WHERE k.vec_id <> 0 GROUP BY k.vec_id)
        SELECT a.vec_id, a.pq_code,
               CASE WHEN a.sc2 = 0 THEN -2.0 ELSE
                    round(a.sp::DOUBLE / (sqrt(q.qn2::DOUBLE)
                          * sqrt(a.sc2::DOUBLE)), 6) END AS score
        FROM agg a, qn q
        ORDER BY score DESC, a.vec_id ASC LIMIT {TOPK}
    """


QUERIES = {"ann_pq_topk": q_ann_pq_topk}
ORACLES = {"ann_pq_topk": _pq_oracle()}
