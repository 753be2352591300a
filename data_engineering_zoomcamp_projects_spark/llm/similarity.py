"""Similarity search over embedding columns (driver-contract extension).

Two paths:
- brute-force top-k: broadcast the (bounded) query set against the full
  corpus — correct baseline, O(queries x corpus); used as the oracle.
- LSH-bucketed ANN: random-hyperplane signatures bucket the corpus; the
  search only scans the query's bucket — the 100 TB path (recall < 1,
  so rows-only checked; pytest measures recall against brute force).

Cosine is the decimal-exact formulation from functions/vector.py, so
brute-force results hash-match DuckDB bit-for-bit.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, table_path
from ..functions.vector import as_double_array, cosine, sql_cosine
from ..operators.parity import drnd
from ..session import local_frame, memo, stat_fingerprint

TOP_K = 10
#: bucket count must track corpus density: 2^6 = 64 buckets keeps
#: dozens of candidates per bucket at test scale; at 100 TB you raise
#: this (and/or use multi-probe) so buckets stay ~constant-sized
N_HYPERPLANES = 6


def _queries_and_corpus(spark, sf_dir):
    """Corpus + query set with PRE-COMPUTED norms: one norm per vector
    instead of two per scored pair (3x fewer decimal aggregates in the
    pair loop — measured 6.5s -> ~2s at sf0.1). The scan is widened
    when pathologically narrow (r11: the single-row-group test parquet
    opens as 2 splits, so norm/cell-assignment/pair-scoring map stages
    ran 2-wide on 32 cores; no-op on real split-able corpora — see
    catalog.widen_if_narrow)."""
    from ..catalog import widen_if_narrow
    from ..functions.vector import norm

    e = widen_if_narrow(spark, load_table(spark, sf_dir, "embeddings"))
    corpus = e.select(
        "vec_id", "label", as_double_array(F.col("embedding")).alias("v")
    ).withColumn("vnorm", norm(F.col("v")))
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vnorm").alias("qnorm"),
    )
    return queries, corpus


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for every 100th vector.

    The query set is 1% of the corpus — broadcast it; the scan over the
    corpus stays partition-parallel with no shuffle until the final
    per-query top-k (window over query_id).

    Two-phase scoring: all pairs are ranked by the cheap IEEE-double
    cosine first and only the fast top (K + 20) per query pay the
    order-independent decimal cosine the oracle needs, then re-rank
    exactly. Fast and exact scores differ by ~1e-13 relative, so a true
    top-10 member could be excluded only if 20+ rivals sat within that
    sliver above it — far beyond the corpus's score spacing (and the
    oracle gate would catch it).

    Deliberate quadratic-in-(queries x corpus) COMPUTE baseline for the
    ANN family (sim_topk_lsh / sim_topk_ivf are the scale paths) — but
    the EXCHANGE is not quadratic-in-width (r13): the pair stream is
    narrowed to (query_id, vec_id, cos_fast) ~24 B/row BEFORE the
    per-query top-(K+20) window, and the survivors re-fetch their full
    vectors via broadcast joins for the exact decimal re-rank — the
    _ivfpq_serve survivor discipline. The wide form shuffled ~1 KB/row
    (both raw vectors riding every pair): at sf10 that is a ~400 GB
    spill (measured: filled the disk); narrowed it is ~10 GB. Exact
    recall estimation at scale pays the quadratic FLOPs by design (the
    sample size is the knob) — it should never pay a quadratic-in-
    vectors exchange."""
    from ..functions.vector import dot_dec, dot_double

    queries, corpus = _queries_and_corpus(spark, sf_dir)
    # NOTE: the prefilter dot stays the HOF fold here ON PURPOSE: the
    # n x q pair stream comes out of a BroadcastNestedLoopJoin (non-
    # equi condition), which blocks whole-stage codegen, and in the
    # interpreted evaluator the HOF fold is ~3.7x FASTER than the
    # unrolled fixed-dim tree (measured at sf1; the unrolled form only
    # wins inside codegen — see sim_topk_ivf's equi-join stream).
    scored_fast = (
        corpus.select("vec_id", "v", "vnorm")
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                dot_double(F.col("qv"), F.col("v"))
                / (F.col("qnorm") * F.col("vnorm"))
            ).alias("cos_fast"),
        )
    )
    w_fast = Window.partitionBy("query_id").orderBy(
        F.col("cos_fast").desc(), F.col("vec_id").asc()
    )
    cand = (
        scored_fast.withColumn("rk_fast", F.row_number().over(w_fast))
        .filter(F.col("rk_fast") <= TOP_K + 20)
        .select("query_id", "vec_id")
    )
    denom = F.col("qnorm") * F.col("vnorm")
    exact = (
        corpus.select("vec_id", "v", "vnorm")
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn(
            "cos_sim", dot_dec(F.col("qv"), F.col("v")).cast("double") / denom
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            drnd(F.col("cos_sim"), "cos_sim", 6),
        )
    )


#: r14: the pair cosine projects to a scalar BEFORE the rank window
#: (one evaluation instead of two, and no embedding lists flow through
#: the window materialization — the vm.max_map_count churn fix, see
#: _ivf_index_ctes)
SIM_TOPK_SQL = f"""
WITH pair_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sql_cosine('q.embedding', 'c.embedding')} AS cosd
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % 100 = 0
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT query_id, neighbor_id,
         CAST(ROUND(CAST(cosd AS DECIMAL(38,10)), 6) AS DOUBLE) AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosd DESC, neighbor_id ASC
         ) AS rank
  FROM pair_scored
) WHERE rank <= {TOP_K}
"""


def _hyperplanes(n_planes: int = N_HYPERPLANES) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed, ±1 entries) — the
    same matrix on every executor via literal folding, no broadcast var
    needed at this size. Rows are seed-stable prefixes: asking for more
    planes extends the matrix without changing the first rows."""
    rng = np.random.RandomState(42)
    return (rng.randint(0, 2, size=(n_planes, 64)) * 2 - 1).tolist()


def band_signature(vec_col: Column, n_bands: int, bits_per_band: int) -> Column:
    """array<long> of ``n_bands`` packed band buckets built from the
    sign bits of random-hyperplane projections (native exprs, no UDF).

    Band ``i`` packs bits ``[i*bits_per_band, (i+1)*bits_per_band)``
    MSB-first — with ``n_bands=1`` this is exactly the single-bucket id
    `sim_topk_lsh` hashes on. Callers calibrate (n_bands,
    bits_per_band) to their similarity threshold: the probability two
    vectors at angle θ agree on one bit is 1 - θ/π, on one band that
    to the bits_per_band power, and a pair survives candidate
    generation unless it misses ALL bands."""
    planes = _hyperplanes(n_bands * bits_per_band)
    bits = []
    for plane in planes:
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(float(x)) for x in plane]),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)))
    keys = []
    for i in range(n_bands):
        key = F.lit(0).cast("long")
        for j in range(bits_per_band):
            key = key * 2 + bits[i * bits_per_band + j]
        keys.append(key)
    return F.array(*keys)


def _bucket_expr(vec_col: Column) -> Column:
    """Pack sign(v . h_j) bits into an int bucket id (native exprs)."""
    return F.element_at(band_signature(vec_col, 1, N_HYPERPLANES), 1)


def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via random-hyperplane LSH: score only same-bucket
    candidates. Sub-linear scan at scale; recall measured in tests
    against brute force (rows-only driver check)."""
    queries, corpus = _queries_and_corpus(spark, sf_dir)
    corpus_b = corpus.withColumn("bucket", _bucket_expr(F.col("v")))
    queries_b = queries.withColumn("qbucket", _bucket_expr(F.col("qv")))
    from ..functions.vector import dot_dec

    scored = (
        corpus_b.join(
            F.broadcast(queries_b),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn(
            "cos_sim",
            dot_dec(F.col("qv"), F.col("v")).cast("double")
            / (F.col("qnorm") * F.col("vnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            drnd(F.col("cos_sim"), "cos_sim", 6),
        )
    )


def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norms — aggregation over array columns via
    elementwise decimal sums (posexplode + groupBy: the distributed
    reduction that IVF-style indexes build on)."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode(as_double_array(F.col("embedding"))).alias("dim", "x")
    )
    return (
        comp.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("x").cast("decimal(38,10)")), 6)
            .cast("double")
            .alias("dim_sum"),
        )
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            F.round(F.sum(F.abs(F.col("dim_sum")).cast("decimal(38,10)")), 4)
            .cast("double")
            .alias("l1_of_sums"),
        )
        .orderBy("label")
    )


SIM_CENTROID_SQL = """
WITH comp AS (
  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
), sums AS (
  SELECT label, dim, COUNT(*) AS n,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(38,10))), 6) AS DOUBLE) AS dim_sum
  FROM comp GROUP BY label, dim
)
SELECT label, MAX(n) AS n_vectors,
       CAST(ROUND(SUM(CAST(ABS(dim_sum) AS DECIMAL(38,10))), 4) AS DOUBLE) AS l1_of_sums
FROM sums GROUP BY label ORDER BY label
"""


def _sql_bucket_expr(vec: str) -> str:
    """DuckDB twin of `_bucket_expr`: the 6 hyperplane sign bits packed
    MSB-first. The plane matrix is fixed-seed MODEL STATE, so the
    oracle can inline it as literals; each projection is an explicit
    left-associated sum matching Spark's HOF fold order bit for bit
    (the products are exact: weights are ±1.0)."""
    bits = []
    for plane in _hyperplanes():
        terms = " + ".join(
            f"(({vec})[{i + 1}]::DOUBLE * {w:.1f})" for i, w in enumerate(plane)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN 1 ELSE 0 END)")
    expr = "0"
    for b in bits:
        expr = f"(({expr}) * 2 + {b})"
    return expr


def _sim_lsh_sql() -> str:
    """Full oracle for sim_topk_lsh: DuckDB recomputes the hyperplane
    buckets itself (deterministic model state, see `_sql_bucket_expr`),
    restricts the pair space to same-bucket exactly as the Spark plan
    does, and ranks by the same decimal-exact cosine — converting the
    former rows-only entry into a rows+schema+hash check of the entire
    index semantics (bucketing + candidate restriction + scoring)."""
    cos = sql_cosine("q.embedding", "c.embedding")
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_sql_bucket_expr('embedding')} AS bucket
  FROM embeddings
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(ROUND(CAST({cos} AS DECIMAL(38,10)), 6) AS DOUBLE) AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id ASC
         ) AS rank
  FROM bucketed q JOIN bucketed c
    ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id % 100 = 0
) WHERE rank <= {TOP_K}
"""


#: IVF cell-size cap (r16, shipped on a measured sf10 A/B): the
#: centroid sample stride IS the expected cell size, and the legacy
#: sqrt(n) stride let cells grow unboundedly with the corpus — the
#: candidate scan per query (n_probe x cell size) then grows ∝ sqrt(n),
#: which at sf10 made the online ingest gate candidate-scan-bound (the
#: r14/r15 refutations proved k and n_probe weren't the term; the
#: LAYOUT was). Capping the stride holds cell size ~constant (k grows
#: ∝ n — the FAISS sizing rule), making per-query candidate volume
#: scale-invariant. Measured at sf10 (same loaded session, n=200k:
#: 447 cells -> 1024 cells): gate 73.0 -> 40.8 s, serve 10.9 -> 8.8 s,
#: balance_skew 10.9 -> 9.0, recall@10 mean 0.3882 -> 0.3841 (-1.1%
#: relative — the sanctioned tradeoff; contrast n_probe=1, refuted in
#: r15 at recall 43 -> 31). An intermediate cap of 256 was refuted:
#: gate 79.3 s (noise-level vs baseline), because 520 cells barely
#: moves the per-cell mass. Certification SFs (n <= 2000) derive
#: sqrt-strides of 22-45, far under the cap — their models, oracle
#: values, and hashes are byte-identical.
ANN_CELL_STRIDE_CAP = 128


def _ivf_index_ctes(
    src: str = "embeddings",
    assign_src: str = "embeddings",
    query_src: str | None = None,
    nprobe: int = 2,
) -> str:
    """The shared two-level-index CTE chain (stats .. corpus_cells /
    query_cells) — DuckDB rebuilds the codebook from the same
    deterministic derivations as `_ivf_codebook`; shared verbatim by
    the sim_topk_ivf / sim_topk_ivfpq / sim_index_build oracles (r11
    refactor). `src` is the codebook's training base, `assign_src` the
    relation whose rows get cell-assigned — they differ only for the
    frozen-model incremental append (sim_index_append); the defaults
    render the exact text every certified oracle has always used.
    `query_src` (r13) overrides the QUERY side: None keeps the
    standing 1% sample (every 100th assigned row); a relation makes
    EVERY row of it a query, cell-assigned through its own supercell
    hop (the online ingestion-gate shape: queries are the arriving
    batch, candidates the indexed corpus).

    r14 allocator-hygiene restructure (the r13 harness-death root
    cause): every ROW_NUMBER window in this chain now sorts SCALAR
    rows only — each assignment's dot product is projected to a
    scalar column in a derived table first, and the window
    partitions/orders over (ids, dot). DuckDB's window operator
    materializes its input rows, and list columns (64-double
    embeddings) flowing through that materialization churn jemalloc
    extents until the process hits vm.max_map_count (65530 on this
    host) — at which point a failed mmap surfaces as 'Failed to
    allocate block of N bytes (bad allocation)' at ~1 GB RSS
    (measured: a single list-window codes CTE retains ~25k mappings;
    the scalar-window form retains ~545). Embeddings re-attach by
    vec_id joins against the base table afterward — every slice of
    `embeddings` carries identical vectors per vec_id, so all dots,
    tie-breaks, and assignments are value-identical and every
    certified hash is unchanged. corpus_cells/query_cells now emit
    (vec_id, cell) scalars only; consumers join `embeddings` when
    they need the vectors."""
    from ..functions.vector import sql_dot_double

    dot_cs = sql_dot_double("c.cv", "s.scv")
    dot_es = sql_dot_double("e.embedding", "s.scv")
    dot_ec = sql_dot_double("e.embedding", "cc.cv")
    if query_src is None:
        query_side = """query_cells AS (
  SELECT vec_id, qcell FROM (
    SELECT vec_id, cent_id AS qcell,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY dot DESC, cent_id ASC
           ) AS rk
    FROM (
      SELECT x.vec_id, cc.cent_id, {dot_ec} AS dot
      FROM corpus_sc x
      JOIN embeddings e ON e.vec_id = x.vec_id
      JOIN cent_owner cc ON cc.sc_id = x.sc_id
      WHERE x.vec_id % 100 = 0
    ) d
  ) WHERE rk <= {nprobe}
)""".format(dot_ec=dot_ec, nprobe=nprobe)
    else:
        query_side = """query_sc AS (
  SELECT vec_id, sc_id FROM (
    SELECT vec_id, sc_id,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY dot DESC, sc_id ASC
           ) AS rk
    FROM (
      SELECT e.vec_id, s.sc_id, {dot_es} AS dot
      FROM {query_src} e CROSS JOIN supercents s
    ) d
  ) WHERE rk = 1
),
query_cells AS (
  SELECT vec_id, qcell FROM (
    SELECT vec_id, cent_id AS qcell,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY dot DESC, cent_id ASC
           ) AS rk
    FROM (
      SELECT x.vec_id, cc.cent_id, {dot_ec} AS dot
      FROM query_sc x
      JOIN embeddings e ON e.vec_id = x.vec_id
      JOIN cent_owner cc ON cc.sc_id = x.sc_id
    ) d
  ) WHERE rk <= {nprobe}
)""".format(dot_es=dot_es, dot_ec=dot_ec, query_src=query_src,
           nprobe=nprobe)
    return f"""stats AS (
  SELECT GREATEST(1, LEAST(CAST(CEIL(COUNT(*) / CEIL(SQRT(COUNT(*)))) AS BIGINT), {ANN_CELL_STRIDE_CAP})) AS stride
  FROM {src}
),
cent_ids AS (
  SELECT cent_id, ROW_NUMBER() OVER (ORDER BY cent_id) AS crk,
         COUNT(*) OVER () AS k
  FROM (SELECT vec_id AS cent_id FROM {src}, stats WHERE vec_id % stride = 0)
),
cents AS (
  SELECT i.cent_id, e.embedding AS cv, i.crk, i.k
  FROM cent_ids i JOIN embeddings e ON e.vec_id = i.cent_id
),
supercents AS (
  SELECT cent_id AS sc_id, cv AS scv FROM cents
  WHERE (crk - 1) % GREATEST(1, CAST(CEIL(SQRT(k)) AS BIGINT)) = 0
),
cent_owner AS (
  SELECT d.cent_id, e.embedding AS cv, d.sc_id
  FROM (
    SELECT cent_id, sc_id FROM (
      SELECT cent_id, sc_id,
             ROW_NUMBER() OVER (
               PARTITION BY cent_id ORDER BY dot DESC, sc_id ASC
             ) AS rk
      FROM (
        SELECT c.cent_id, s.sc_id, {dot_cs} AS dot
        FROM cents c CROSS JOIN supercents s
      ) t
    ) WHERE rk = 1
  ) d JOIN embeddings e ON e.vec_id = d.cent_id
),
corpus_sc AS (
  SELECT vec_id, sc_id FROM (
    SELECT vec_id, sc_id,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY dot DESC, sc_id ASC
           ) AS rk
    FROM (
      SELECT e.vec_id, s.sc_id, {dot_es} AS dot
      FROM {assign_src} e CROSS JOIN supercents s
    ) d
  ) WHERE rk = 1
),
corpus_cells AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cent_id AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY dot DESC, cent_id ASC
           ) AS rk
    FROM (
      SELECT x.vec_id, cc.cent_id, {dot_ec} AS dot
      FROM corpus_sc x
      JOIN embeddings e ON e.vec_id = x.vec_id
      JOIN cent_owner cc ON cc.sc_id = x.sc_id
    ) d
  ) WHERE rk = 1
),
{query_side}"""


def _sim_ivf_sql() -> str:
    """Full oracle for sim_topk_ivf: DuckDB rebuilds the TWO-LEVEL
    codebook from the same deterministic derivations — sqrt-scaled
    stride sample for centroids, every-ceil(sqrt(k))-th centroid as a
    super-centroid, each centroid owned by its nearest super-centroid —
    then assigns every vector hierarchically (nearest super-centroid's
    group, nearest owned centroid) and every query to its top-2 cells
    within its group, all with the same left-fold double arithmetic and
    (dot DESC, id ASC) tie-breaks as the Spark plan, and finally ranks
    same-cell candidates by the decimal-exact cosine."""
    cos = sql_cosine("q.embedding", "c.embedding")
    return f"""
WITH {_ivf_index_ctes()},
scored AS (
  SELECT qc.vec_id AS query_id, cc.vec_id AS neighbor_id, {cos} AS cosd
  FROM query_cells qc JOIN corpus_cells cc
    ON cc.cell = qc.qcell AND cc.vec_id <> qc.vec_id
  JOIN embeddings q ON q.vec_id = qc.vec_id
  JOIN embeddings c ON c.vec_id = cc.vec_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT query_id, neighbor_id,
         CAST(ROUND(CAST(cosd AS DECIMAL(38,10)), 6) AS DOUBLE) AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosd DESC, neighbor_id ASC
         ) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


QUERIES = {
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_topk_lsh": sim_topk_lsh,
    "sim_label_centroids": sim_label_centroids,
}

ORACLES = {
    "sim_topk_bruteforce": SIM_TOPK_SQL,
    # deterministic model state (fixed-seed planes / every-53rd-vector
    # codebook) lets the oracle replicate BOTH index structures exactly
    # — former rows-only entries, now fully hash-checked
    "sim_topk_lsh": _sim_lsh_sql(),
    "sim_topk_ivf": _sim_ivf_sql(),
    "sim_label_centroids": SIM_CENTROID_SQL,
}


def _dot_double(a: Column, b: Column) -> Column:
    """Plain double dot product — used for IVF cell ASSIGNMENT, where
    only the argmax matters (no cross-engine parity needed). Stays the
    zip_with/aggregate HOF: inside a transform lambda the unrolled
    fixed-dim tree re-evaluates its element_at(codebook, i) operand per
    term and measured 4.5x SLOWER — the unrolled form only wins at
    top-level projection/filter context (see dedup_embedding_cosine)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _py_dot(a, b) -> float:
    """Driver-side LEFT-FOLD double dot — term-for-term the same IEEE
    rounding sequence as the Spark HOF fold (`_dot_double`) and the
    oracle's `sql_dot_double`, so index training on the driver, cell
    assignment on executors, and the DuckDB replica all agree on every
    argmax bit pattern."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


#: schema of the `cells` column: one struct per super-centroid
_CELLS_DDL = (
    "cells array<struct<sc_id:bigint,scv:array<double>,"
    "mids:array<bigint>,mvecs:array<array<double>>>>"
)
_PQ_DDL = "pq array<array<array<double>>>"


def _cells_frame(spark, cells) -> DataFrame:
    """The two-level codebook's plain-python cells structure as the
    one-row broadcast frame every assignment plan cross-joins — shared
    by the corpus-derived path (`_ivf_model`) and the sidecar-loaded
    path (`_sidecar_model`), so both ride the identical schema. It is
    a JVM local relation (`session.local_frame`): each broadcast of it
    re-executes the frame, and a Python-RDD frame paid ~0.2 s of
    Python-worker tasks per execution (~1 ms as a local scan)."""
    return local_frame(spark, [([tuple(c) for c in cells],)], _CELLS_DDL)


def _ivf_codebook(spark, sf_dir, corpus):
    """TWO-LEVEL coarse codebook as a one-row broadcast frame.

    Level sizes are sqrt-scaled from the corpus: k ~ sqrt(n) centroids
    (stride-sampled — k-means at deploy time; the deterministic sample
    keeps tests stable), grouped under k1 ~ sqrt(k) super-centroids
    (every ceil(sqrt(k))-th centroid), each centroid owned by its
    nearest super-centroid. Cell assignment then costs
    k1 + |members| ~ 2*sqrt(k) dots per row instead of k — the
    round-4 flat scan (k = n/53 dots per row) made assignment O(n*k) =
    quadratic in the corpus and benched 48x at a 10x scale-up; the
    hierarchy is the standard IMI/2-level-IVF answer, and with a
    trained fixed-k codebook at deploy (65536 x 1024 -> 2*256 dots) the
    same plan is O(n).

    The codebook rides as a ONE-ROW broadcast frame cross-joined onto
    the scan, so cell assignment runs MAP-SIDE: the corpus never
    shuffles for assignment. A broadcast row beats inlining the values
    as literal arrays: the literal form re-pays ~1.5s of plan analysis
    on EVERY invocation (measured), while the broadcast keeps the plan
    tree model-size-independent. The row is a JVM local relation
    (`_cells_frame`), so building the broadcast reads it in-process
    instead of running Python-worker tasks on every execution."""
    return _ivf_model(spark, sf_dir, corpus)[0]


def _ivf_model(spark, sf_dir, corpus, variant=""):
    """(broadcast cells frame, plain-python cells) — memoized together
    so `build_ann_index` can persist the SAME trained structure into
    the index sidecar that the in-session plans broadcast (r12 verdict
    item 2: the serve half must not need the training corpus to
    reconstruct the model). ``variant`` names a training subset of the
    corpus (build_ann_index's "hist")."""
    # The codebook is MODEL STATE, not data — O(k x d) floats derived
    # once per corpus bytes — so both the driver-side collect and the
    # session memo are the correct pattern (the same role as a
    # broadcast k-means model in any IVF index).
    build = lambda: _train_ivf_model(spark, corpus)  # noqa: E731
    src = (table_path(sf_dir, "embeddings"),)
    return memo(spark, ("codebook",), build, sources=src, params=(variant,))


def _train_ivf_model(spark, corpus):
    import math

    n = corpus.count()
    stride = max(
        1, min(math.ceil(n / math.ceil(math.sqrt(n))), ANN_CELL_STRIDE_CAP)
    )
    cents = sorted(
        (int(r["cent_id"]), [float(x) for x in r["cv"]])
        for r in corpus.filter(F.col("vec_id") % stride == 0)
        .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
        .collect()
    )
    k = len(cents)
    m = max(1, math.ceil(math.sqrt(k)))
    supers = cents[0::m]  # rank-based pick: positions 0, m, 2m, ...
    # own each centroid by its nearest super-centroid (left-fold dots,
    # strict > keeps the smallest sc_id on ties — the oracle's
    # `ORDER BY dot DESC, sc_id ASC` exactly)
    members: dict[int, list[tuple[int, list[float]]]] = {sid: [] for sid, _ in supers}
    for cid, cv in cents:
        best_sid, best_d = None, None
        for sid, scv in supers:
            d = _py_dot(cv, scv)
            if best_d is None or d > best_d:
                best_sid, best_d = sid, d
        members[best_sid].append((cid, cv))
    cells = [
        (sid, scv, [c for c, _ in members[sid]], [v for _, v in members[sid]])
        for sid, scv in supers
    ]
    return (_cells_frame(spark, cells), cells)


# Building the serve chain's HOF expression trees costs ~0.5 s of
# py4j round-trips per serve (measured: _nearest_cells+_pq_lut
# ~290 ms, _pq_score ~88 ms — pure driver-side construction, no job),
# and the trees depend only on COLUMN NAMES, not on any DataFrame.
# Unresolved Columns are immutable expression trees that the analyzer
# resolves per plan, so reusing one across plans is exact (r17, guide
# §7.3 driver-side latency).
def _memo_col(df: DataFrame, key: tuple, build) -> Column:
    """Session memo for a pure (name-parameterized) Column expression
    tree, in the application of ``df``, the frame it is applied to."""
    return memo(df.sparkSession, ("expr",) + key, build)


def _nearest_cells(cb, df, vec_col, out_col, n_probe):
    """Hierarchical cell assignment over the broadcast two-level
    codebook — shared by sim_topk_ivf and sim_topk_ivfpq (r11: lifted
    out of sim_topk_ivf unchanged). ``cb=None`` (r18) means the
    caller already cross-joined a frame carrying the `cells` column —
    the combined-model-frame serve path (`_model_frame`), which folds
    this helper's broadcast with the LUT's into one exchange."""
    vec = F.col(vec_col)
    if cb is not None:
        df = df.crossJoin(F.broadcast(cb))
    # score supers as slim (sim, -index) structs; the winning
    # cell's member arrays are fetched AFTER the argmax via
    # element_at. The previous form carried every super's
    # mids/mvecs arrays inside the scored structs, so array_max
    # copied ~k1 x |members| x dim doubles per row just to compare
    # two scalars. cells[] is ordered by sc_id (supers are a
    # stride over id-sorted centroids), so -index ties exactly
    # match the oracle's (sim DESC, sc_id ASC) head.
    # Expression trees below depend only on `vec_col`/`n_probe` —
    # memoized per session (_memo_col; ~200 ms of py4j construction
    # per serve otherwise).
    def _build_chosen() -> Column:
        sc_scored = F.transform(
            F.col("cells"),
            lambda c, i: F.struct(
                _dot_double(vec, c["scv"]).alias("sim"),
                (-i).alias("neg_idx"),
            ),
        )
        best_sc = F.array_max(sc_scored)  # (sim desc, sc_id asc) head
        return F.element_at(
            F.col("cells"), (F.lit(1) - best_sc["neg_idx"]).cast("int")
        )

    def _build_mem() -> Column:
        chosen = F.col("_chosen")
        return F.zip_with(
            chosen["mids"],
            chosen["mvecs"],
            lambda cid, cv: F.struct(
                _dot_double(vec, cv).alias("sim"), cid.alias("cent_id")
            ),
        )

    # STAGE the winning cell: `chosen` is field-read twice (mids,
    # mvecs), and inline it embeds the whole super-scoring
    # transform — re-inlined per read, the ~sqrt(k) super dots ran
    # TWICE per row (caught by the round-10 re-inlining guard;
    # measured 12.8 -> ~9 s at sf1). A named non-cheap column is
    # single-evaluation under CollapseProject.
    df = df.withColumn("_chosen", _memo_col(df, ("nc_chosen", vec_col), _build_chosen))
    if n_probe == 1:
        def _build_cell1() -> Column:
            neg = F.transform(
                _build_mem(),
                lambda s: F.struct(
                    s["sim"].alias("sim"), (-s["cent_id"]).alias("neg_id")
                ),
            )
            return -F.array_max(neg)["neg_id"]  # null on empty group

        cell = _memo_col(df, ("nc_cell1", vec_col), _build_cell1)
        return df.withColumn(out_col, cell).drop("cells", "_chosen")

    def _build_tops() -> Column:
        ranked = F.array_sort(
            _build_mem(),
            lambda l, r: F.when(l["sim"] > r["sim"], F.lit(-1))
            .when(l["sim"] < r["sim"], F.lit(1))
            .when(l["cent_id"] < r["cent_id"], F.lit(-1))
            .when(l["cent_id"] > r["cent_id"], F.lit(1))
            .otherwise(F.lit(0)),
        )
        return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["cent_id"])

    tops = _memo_col(df, ("nc_tops", vec_col, n_probe), _build_tops)
    return df.withColumn(out_col, F.explode(tops)).drop("cells", "_chosen")


def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN over a two-level codebook: every vector lands in
    the nearest cell of its nearest super-centroid's group; queries
    probe the top `nprobe=2` cells within their super-centroid.

    Assignment is pure map-side HOF math over the broadcast codebook —
    no join, no shuffle, no Python on the data path, ~2*sqrt(k) dots
    per row (see `_ivf_codebook` for why not a flat scan). Both levels
    pick by array_max over struct(sim, -id): struct ordering is
    lexicographic, so the max is exactly the (sim desc, id asc) head
    with no comparator-lambda sort; zip_with pairs member ids with
    vectors directly, so empty member groups degrade to a null cell
    (dropped by the candidate join) instead of an index fault.

    Candidates are scored two-phase like sim_topk_bruteforce: ranked by
    the cheap IEEE-double cosine, and only the fast top (K + 20) per
    query pay the order-independent decimal cosine the oracle needs.
    The DuckDB oracle replicates the whole index — stride, hierarchy,
    ownership, probes — from the same deterministic derivations, so the
    entry is fully hash-checked."""
    queries, corpus = _queries_and_corpus(spark, sf_dir)
    from ..functions.vector import dot_dec, dot_double

    cb = _ivf_codebook(spark, sf_dir, corpus)

    # COALESCE the cell ids to distinct non-null sentinels: a nullable
    # equi-join key makes the optimizer infer isnotnull(cell), and the
    # inferred predicate inlines the WHOLE assignment expression (the
    # ~sqrt(k) super dots) a second time per row (caught by the
    # round-10 re-inlining guard). Non-nullable keys generate no
    # constraint; -1 vs -2 keeps empty-group rows from false-matching
    # each other (nulls never matched before — same semantics).
    corpus_cells = _nearest_cells(cb, corpus, "v", "cell", 1).withColumn(
        "cell", F.coalesce(F.col("cell"), F.lit(-1).cast("long"))
    )
    query_cells = _nearest_cells(cb, queries, "qv", "qcell", 2).withColumn(
        "qcell", F.coalesce(F.col("qcell"), F.lit(-2).cast("long"))
    )  # nprobe=2

    denom = F.col("qnorm") * F.col("vnorm")
    scored_fast = corpus_cells.join(
        F.broadcast(query_cells),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).withColumn("cos_fast", dot_double(F.col("qv"), F.col("v")) / denom)
    w_fast = Window.partitionBy("query_id").orderBy(
        F.col("cos_fast").desc(), F.col("vec_id").asc()
    )
    cand = scored_fast.withColumn("rk_fast", F.row_number().over(w_fast)).filter(
        F.col("rk_fast") <= TOP_K + 20
    )
    exact = cand.withColumn(
        "cos_sim", dot_dec(F.col("qv"), F.col("v")).cast("double") / denom
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            drnd(F.col("cos_sim"), "cos_sim", 6),
        )
    )


QUERIES["sim_topk_ivf"] = sim_topk_ivf


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized candidate scoring (r10 verdict item 3 —
# the storage-side two-phase argument: at 100 TB the candidate stream's
# VECTOR PAYLOAD dominates the per-query top-k exchange, so score
# candidates from an 8-byte code + a broadcast codebook and fetch full
# vectors only for the survivors)

#: PQ geometry: 64-dim vectors cut into PQ_M=8 subspaces of PQ_DSUB=8
#: dims, PQ_K=16 centroids per subspace -> 4-bit codes, 8 codes packed
#: into ONE BIGINT per vector. PQ_K is the model-width knob (production
#: uses 256 = byte codes; the oracle-unrolled twin 16); the codebook is
#: bounded broadcast model state either way (8 x 256 x 8 doubles =
#: 16 KB at production width).
PQ_M = 8
PQ_K = 16
PQ_DSUB = 8

# The packed BIGINT is base-PQ_K positional (all three packing/unpacking
# sites below derive their shift from PQ_K, r11 ADVICE) — but the widest
# packable model is bounded by the signed-64-bit column: production
# PQ_K=256 with PQ_M=8 needs 64 unsigned bits and would wrap. Fail loud
# at import instead of silently corrupting codes; byte-width models
# should pack into BINARY(8) or two ints.
assert PQ_K**PQ_M < 2**63, "packed PQ code overflows BIGINT; widen the packing"

def _pq_frame(spark, pq) -> DataFrame:
    """The PQ codebook's plain nested list as the one-row broadcast
    frame LUT plans cross-join — shared by the corpus-derived and
    sidecar-loaded model paths (same role as `_cells_frame`)."""
    return local_frame(spark, [(pq,)], _PQ_DDL)


def _model_frame(spark, cells, pq) -> DataFrame:
    """IVF cells + PQ codebook as ONE one-row broadcast frame (r18,
    guide §2.4/§3): the serve chain's query side used to cross-join
    two separate one-row model frames — `cells` for cell assignment,
    `pq` for the LUT — paying two broadcast exchanges and two BNL
    nodes per plan rendering. One frame carrying both columns halves
    that machinery; column schemas match `_cells_frame`/`_pq_frame`
    field for field, so every downstream expression tree is
    unchanged. Like both, it is a JVM local relation
    (`session.local_frame`): every serve broadcasts it, so every serve
    executes it, and as a Python-RDD frame that execution ran 4
    Python-worker tasks (~0.2 s of wall time) for one row."""
    return local_frame(
        spark, [([tuple(c) for c in cells], pq)], f"{_CELLS_DDL}, {_PQ_DDL}"
    )


def _live_model_frame(spark, sf_dir, corpus) -> DataFrame:
    """Combined (cells, pq) one-row frame for the corpus-derived serve
    path, memoized like the underlying codebooks."""

    def build() -> DataFrame:
        _, cells = _ivf_model(spark, sf_dir, corpus)
        _, pq = _pq_codebook(spark, sf_dir, corpus)
        return _model_frame(spark, cells, pq)

    src = (table_path(sf_dir, "embeddings"),)
    return memo(spark, ("model_frame",), build, sources=src)


def _pq_codebook(spark, sf_dir, corpus, variant=""):
    """Per-subspace PQ codebook: `pq[s][p] = the p-th centroid's 8-dim
    slice of subspace s`, returned as (one-row broadcast frame, plain
    nested list) — the frame rides query-side LUT plans, the list ships
    inside the Arrow code-assignment closure. Centroids are the first
    PQ_K corpus vectors by vec_id (the ml_kmeans c0 convention — a
    deploy run Lloyd-trains each subspace; the deterministic derivation
    is what lets DuckDB rebuild the exact codebook). Collect is
    O(PQ_K x 64) doubles — bounded model state, memoized like
    `_ivf_model`."""
    build = lambda: _train_pq_codebook(spark, corpus)  # noqa: E731
    src = (table_path(sf_dir, "embeddings"),)
    return memo(spark, ("pq",), build, sources=src, params=(variant,))


def _train_pq_codebook(spark, corpus):
    rows = corpus.select("vec_id", "v").orderBy("vec_id").limit(PQ_K).collect()
    cents = [
        [float(x) for x in r["v"]] for r in sorted(rows, key=lambda r: r["vec_id"])
    ]
    # a corpus smaller than PQ_K yields len(cents) < PQ_K centroids —
    # use what exists (codes stay < 16, the packing is unchanged),
    # exactly as the oracle's `rp <= PQ_K` predicate does (r11 review:
    # the range(PQ_K) form crashed on tiny corpora where the oracle
    # degraded gracefully)
    pq = [
        [cents[p][s * PQ_DSUB : (s + 1) * PQ_DSUB] for p in range(len(cents))]
        for s in range(PQ_M)
    ]
    return (_pq_frame(spark, pq), pq)


def _pq_codes(df: DataFrame, vec_col: str, pqcb: DataFrame) -> DataFrame:
    """Pack each vector's PQ code into one BIGINT (subspace 0 most
    significant, 4 bits each): code_s = argmin_p of the squared
    distance to subspace-s centroids (IEEE-double left fold, DuckDB
    twin `sql_dist_double` matches the fold order term for term —
    the IVF argmax discipline), ties to the smallest p via array_max
    over (negdist, -index) structs. Pure map-side HOF math over the
    broadcast codebook; the vector column is DROPPED afterwards — the
    code (8 bytes) + vnorm are all the candidate stream carries."""
    from ..functions.vector import dist_double

    df = df.crossJoin(F.broadcast(pqcb))
    vec = F.col(vec_col)
    packed = F.lit(0).cast("long")

    def scorer(sv):
        # bind the subspace slice OUTSIDE the lambda (PySpark reads the
        # lambda's arity from its signature, so a default-arg capture
        # would read as a 3-arg lambda)
        return lambda c, i: F.struct(
            (-dist_double(sv, c)).alias("negd"), (-i).alias("neg_idx")
        )

    for s in range(PQ_M):
        sub_v = F.slice(vec, s * PQ_DSUB + 1, PQ_DSUB)
        scored = F.transform(F.element_at(F.col("pq"), s + 1), scorer(sub_v))
        best = F.array_max(scored)  # (dist asc, p asc) head
        packed = packed * PQ_K + (-best["neg_idx"]).cast("long")
    return df.withColumn("pq_code", packed).drop("pq")


def _pq_codes_arrow(
    df: DataFrame, vec_col: str, pq_py, keep_cols: list[str], out_schema: str
) -> DataFrame:
    """Arrow-batched twin of `_pq_codes` (the registered path): one
    numpy pass computes all PQ_M x PQ_K subspace distances for the
    whole batch — the accumulation loops over the 8 dims IN ORDER with
    elementwise float64 `acc + d*d`, the exact IEEE sequence of the HOF
    fold (and of `sql_dist_double`), so argmin indices are
    bit-identical; np.argmin takes the FIRST minimum, matching the
    (dist ASC, p ASC) tie-break. A/B at sf1: the interpreted-HOF twin
    (128 zip_with+aggregate calls per row) added +4.7 s over the bare
    cell assignment; this form adds ~+0.7 s (full-query 12.0 -> 7.4 s,
    BASELINE §21); pytest pins the two forms equal row-for-row. Pure
    map-side: no shuffle, 1 row -> 1 row."""

    def batches(it):
        # closure, not a module function (executor sys.path rule)
        import numpy as np
        import pandas as _pd

        C = np.array(pq_py, dtype=np.float64)  # (PQ_M, PQ_K, PQ_DSUB)

        for pdf in it:
            if not len(pdf):
                out = {c: pdf[c] for c in keep_cols}
                out["pq_code"] = _pd.Series([], dtype="int64")
                yield _pd.DataFrame(out)
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).reshape(-1, PQ_M, PQ_DSUB)
            # C.shape[1] (= min(PQ_K, corpus size)), not PQ_K: tiny
            # corpora train fewer centroids (r11 review)
            acc = np.zeros((len(pdf), PQ_M, C.shape[1]), dtype=np.float64)
            for i in range(PQ_DSUB):
                dif = V[:, :, None, i] - C[None, :, :, i]
                acc = acc + dif * dif
            codes = acc.argmin(axis=2)  # first min == smallest p on ties
            packed = np.zeros(len(pdf), dtype=np.int64)
            for s in range(PQ_M):
                packed = packed * PQ_K + codes[:, s]
            out = {c: pdf[c].values for c in keep_cols}
            out["pq_code"] = packed
            yield _pd.DataFrame(out)

    # dedupe: when the caller keeps the raw vector itself (the
    # self-contained index table), vec_col is already in keep_cols
    return df.select(*dict.fromkeys([*keep_cols, vec_col])).mapInPandas(
        batches, schema=out_schema
    )


def _coded_frame(
    cb: DataFrame, pq_py, frame: DataFrame, keep_cols: list[str]
) -> DataFrame:
    """The corpus-side index derivation shared by sim_topk_ivfpq,
    build_ann_index, sim_index_append, and the streaming append (r12
    review: it was copy-pasted four times): nearest-cell assignment
    over the broadcast two-level codebook, null cells coalesced to the
    -1 sentinel (see sim_topk_ivf for why not a nullable key), Arrow
    PQ code packing, then rows whose cell is -1 DROPPED. A -1 cell
    means the vector's nearest super-centroid owns zero centroids
    (possible on unnormalized corpora) — such a vector can never be
    probed (queries probe owned cells only) and the SQL oracle's
    inner-join chain omits it, so keeping it in a certified index
    table would hash-diverge from the oracle exactly on those corpora
    (r12 review finding); dropping it map-side AFTER the Arrow stage
    costs one cheap predicate and cannot re-inline the assignment
    expressions (the mapInPandas boundary materializes `cell`)."""
    coded = _pq_codes_arrow(
        _nearest_cells(cb, frame, "v", "cell", 1).withColumn(
            "cell", F.coalesce(F.col("cell"), F.lit(-1).cast("long"))
        ),
        "v",
        pq_py,
        keep_cols,
        ", ".join(
            f"{c} {_CODED_COL_TYPES.get(c, 'long')}" for c in keep_cols
        )
        + ", pq_code long",
    )
    return coded.filter(F.col("cell") != -1)


#: output types of the columns `_coded_frame` can carry through the
#: Arrow code stage; anything unlisted is a long key column. `v` rides
#: along when the caller persists raw vectors next to the codes (the
#: self-contained index table's re-rank payload, r13); `label` is the
#: filterable attribute column of the v4 table (filtered ANN).
_CODED_COL_TYPES = {"vnorm": "double", "v": "array<double>", "label": "int"}


def _pq_lut(df: DataFrame, vec_col: str, pqcb: DataFrame) -> DataFrame:
    """Asymmetric-distance lookup table per QUERY row:
    lut[s][p] = dot_dec(query subspace s, centroid p of subspace s) —
    PQ_M x PQ_K exact decimals (1 KB per query). Queries are the
    bounded side, so the LUT rides the broadcast with them and the
    candidate score is 8 array lookups + 7 exact adds per pair.
    ``pqcb=None`` (r18) means the caller already cross-joined a frame
    carrying the `pq` column (the combined-model-frame serve path)."""
    from ..functions.vector import dot_dec

    if pqcb is not None:
        df = df.crossJoin(F.broadcast(pqcb))

    def _build_lut() -> Column:
        vec = F.col(vec_col)
        return F.transform(
            F.col("pq"),
            lambda subcb, s: F.transform(
                subcb,
                lambda c: dot_dec(
                    F.slice(vec, s * F.lit(PQ_DSUB) + F.lit(1), PQ_DSUB), c
                ),
            ),
        )

    # the LUT tree depends only on the column name — memoized per
    # session (~150 ms of py4j construction per serve otherwise)
    return df.withColumn(
        "pq_lut", _memo_col(df, ("pq_lut", vec_col), _build_lut)
    ).drop("pq")


def _pq_score(df: DataFrame, code_col: str, lut_col: str) -> Column:
    """Sum_s lut[s][code_s] as exact decimal (left-assoc s=0..7; each
    term is a scale-10 decimal, the running sum re-cast like dot_dec's
    merge — at the (28,10) ACCUMULATOR precision, where addition keeps
    scale 10; at (38,10) Spark's bounded-precision rule rounds every
    intermediate to scale 9, see functions/vector.py) — the asymmetric
    inner-product approximation q . x~."""
    from ..functions.vector import ACC

    def _build() -> Column:
        score = None
        for s in range(PQ_M):
            shift = PQ_K ** (PQ_M - 1 - s)
            code_s = F.expr(f"({code_col} div {shift}) % {PQ_K}").cast("int")
            term = F.element_at(
                F.element_at(F.col(lut_col), s + 1), code_s + F.lit(1)
            )
            score = term if score is None else (score + term).cast(ACC)
        return score

    # name-parameterized tree — memoized per session (~90 ms/serve)
    return _memo_col(df, ("pq_score", code_col, lut_col), _build)


def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: the sim_topk_ivf index (same two-level cells, same
    nprobe=2) with PRODUCT-QUANTIZED candidate scoring — candidates are
    ranked by the asymmetric PQ score (8 LUT lookups against a packed
    8-byte code; exact decimal arithmetic, so the cut is bit-stable
    cross-engine), the top (K + 20) per query survive, and ONLY the
    survivors fetch their full vectors back (one narrow broadcast-semi
    join against the corpus scan) for the exact decimal cosine re-rank.

    Scale design — the storage two-phase: sim_topk_ivf's per-query
    top-k exchange carries both 64-dim double vectors through the
    window shuffle (~1 KB/row); here the candidate stream carries
    (query_id, vec_id, cos_pq) ONLY (~24 B/row; measured per-run
    exchange bytes at sf1: 2,668,232 -> 127,952 = 20.9x less, at
    wall-time parity — 7.4 s vs 6.7 s), and the full-vector payload
    moves just for
    the ~(K+20) x queries survivor rows. At 100 TB the candidate
    stream is the term that grows with the corpus, so shrinking it is
    the whole game; codebooks stay bounded broadcast model state.
    Recall equals sim_topk_ivf's whenever the PQ top-(K+20) contains
    the true top-K (pytest measures the overlap); the DuckDB oracle
    replicates codebook, codes, LUT terms, and the PQ cut exactly, so
    the entry is fully hash-checked rather than rows-only.
    Reference parity: none — driver-contract Part C ANN family."""
    queries, corpus = _queries_and_corpus(spark, sf_dir)
    cb = _ivf_codebook(spark, sf_dir, corpus)
    _pqcb, pq_py = _pq_codebook(spark, sf_dir, corpus)

    # corpus side: cell + packed PQ code + vnorm — the vector itself
    # is dropped before the candidate join (the point of PQ). Arrow
    # code assignment (see _pq_codes_arrow for the 8x A/B vs the HOF
    # twin, which pytest pins output-equal)
    corpus_coded = _coded_frame(cb, pq_py, corpus, ["vec_id", "cell", "vnorm"])
    return _ivfpq_serve(
        spark,
        queries,
        corpus_coded,
        _live_model_frame(spark, sf_dir, corpus),
        corpus=corpus,
    )


def _ivfpq_serve(
    spark: SparkSession,
    queries: DataFrame,
    corpus_coded: DataFrame,
    model: tuple,
    vectors: DataFrame | None = None,
    corpus: DataFrame | None = None,
    k: int = TOP_K,
    n_probe: int = 2,
) -> DataFrame:
    """The IVF-PQ SERVE chain over any (vec_id, cell, vnorm, pq_code)
    corpus-index frame: per-query LUT + nprobe=2 cell assignment, the
    narrow PQ candidate cut, survivor full-vector re-fetch, exact
    decimal re-rank. Factored out of sim_topk_ivfpq (r12) so
    sim_index_query can serve the same chain from the PERSISTED index
    — the two entries share this code AND the oracle, expression for
    expression.

    ``model`` is the frozen COMBINED one-row (cells, pq) model frame
    (`_model_frame`) — derived from the corpus on the live path,
    loaded from the index sidecar on the persisted path (r13: serving
    never re-trains). r18 (guide §2.4/§7.3): it used to be two
    separate one-row frames, costing two broadcast exchanges + two
    BNL nodes per plan rendering on the query side; one combined
    frame halves that fixed machinery with every downstream
    expression unchanged. The frame is a JVM local relation
    (`_model_frame`), so the broadcast that re-executes it on every
    serve runs no Python worker. The query frame itself is lazily
    localCheckpointed: it feeds TWO consumers (the cell/LUT side and
    the exact re-rank re-attach), which previously re-computed the
    query scan + norms once per consumer — the checkpoint computes
    the bounded query side once and both broadcasts read it (guide
    §5: cut lineage for a reused, recompute-expensive intermediate;
    queries are the bounded side by design, so the materialization is
    metadata-scale at any corpus size).
    Exactly one of ``vectors``/``corpus`` supplies the survivor
    full-vector re-fetch: ``vectors`` is a (vec_id, cell, v, vnorm)
    frame (the self-contained index table — survivors keep their cell
    so the re-fetch scan is partition-pruned to the probed cells);
    ``corpus`` is the live (vec_id, v, ...) relation, where vnorm is
    recomputed post-join (evaluating the corpus's precomputed vnorm
    column would run the 64-dim decimal norm for EVERY corpus row
    below the join).

    ``k`` (r14) sizes BOTH cuts — the PQ survivor window at k+20 and
    the exact re-rank at k — and the oracle parameterizes the same
    way (_sim_ivfpq_sql(k=...)), so a k-sized serve is certifiable
    end-to-end. CAVEAT: the survivor pool is a RECALL margin, so
    shrinking k below TOP_K trades recall, not just output size — the
    online gate's k=1 A/B measured real nearest-neighbor flips for
    zero sf10 cost savings and was reverted (gate docstring /
    BASELINE §29); callers opting into small k accept that trade
    knowingly."""
    if (vectors is None) == (corpus is None):
        raise ValueError("pass exactly one of vectors/corpus")
    from ..functions.vector import dot_dec

    # bounded frame, two consumers (LUT/cell side + exact re-attach):
    # compute once, read twice (see docstring)
    queries = queries.localCheckpoint(eager=False)

    # query side: LUT first, THEN the nprobe=2 cell explode — the
    # other order re-evaluates the PQ_M x PQ_K decimal dots once per
    # probe row (2x the heaviest query-side map work; r11 review).
    # ONE cross-join of the combined (cells, pq) model frame feeds
    # both helpers (cb/pqcb=None: columns already attached).
    query_side = _nearest_cells(
        None,
        _pq_lut(queries.crossJoin(F.broadcast(model)), "qv", None),
        "qv",
        "qcell",
        n_probe,
    ).withColumn(
        "qcell", F.coalesce(F.col("qcell"), F.lit(-2).cast("long"))
    ).select("query_id", "qcell", "qnorm", "pq_lut")

    cand = corpus_coded.join(
        F.broadcast(query_side),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    cand = cand.withColumn(
        "cos_pq",
        _pq_score(cand, "pq_code", "pq_lut").cast("double")
        / (F.col("qnorm") * F.col("vnorm")),
    )
    w_pq = Window.partitionBy("query_id").orderBy(
        F.col("cos_pq").desc(), F.col("vec_id").asc()
    )
    # survivors keep their cell on the persisted path so the re-fetch
    # scan of the index table is dynamic-partition-pruned to the probed
    # cells, exactly like the candidate scan (+8 B/row on a ~(K+20) x
    # queries exchange — bounded by the query count, not the corpus)
    surv_cols = ["query_id", "vec_id"] + ([] if vectors is None else ["cell"])
    survivors = (
        cand.select(*surv_cols, "cos_pq")  # narrow the exchange
        .withColumn("rk_pq", F.row_number().over(w_pq))
        .filter(F.col("rk_pq") <= k + 20)
        .select(*surv_cols)
    )
    # survivors are ~(K+20) x queries rows: broadcast them onto the
    # vector source to re-fetch full vectors, then attach the query
    # vectors (both joins map-side). On the live path vnorm is computed
    # AFTER the join — see the docstring; the index table already
    # stores the identical build-time vnorm, so the persisted path
    # reads it instead of recomputing.
    if vectors is None:
        from ..functions.vector import norm as _vnorm

        refetched = (
            corpus.select("vec_id", "v")
            .join(F.broadcast(survivors), "vec_id")
            .withColumn("vnorm", _vnorm(F.col("v")))
        )
    else:
        refetched = vectors.join(
            F.broadcast(survivors), ["vec_id", "cell"]
        ).drop("cell")
    exact = refetched.join(
        F.broadcast(queries), "query_id"
    ).withColumn(
        "cos_sim",
        dot_dec(F.col("qv"), F.col("v")).cast("double")
        / (F.col("qnorm") * F.col("vnorm")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    # tie-safe final rounding (r13): the filtered entry surfaced
    # cos_sim values whose millionths digit sits on a round boundary,
    # where plain double ROUND diverges between engines — parity.drnd
    # (cast to exact decimal, round the decimal, back to double) is
    # consistent on true ties; the oracle mirrors it
    from ..operators.parity import drnd

    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            drnd(F.col("cos_sim"), "cos_sim", 6),
        )
    )


def _sim_ivfpq_sql(
    candidate_pred: str = "TRUE",
    src: str = "embeddings",
    assign_src: str = "embeddings",
    query_src: str | None = None,
    k: int = TOP_K,
    nprobe: int = 2,
) -> str:
    """Full oracle for sim_topk_ivfpq: the shared index chain plus an
    exact replica of the PQ path — first-PQ_K-by-vec_id codebook,
    per-subspace argmin codes (fold-order-matched double dist ASC,
    p ASC), per-pair
    asymmetric score as the SUM over subspaces of
    dot_dec(query slice, coded centroid slice) (decimal, so
    order-independent — no fold-order coupling), the top-(K+20) PQ cut
    with the same (cos_pq DESC, vec_id ASC) tie-break, then the exact
    decimal cosine re-rank. The oracle keeps (vec_id, s, code) rows
    instead of packing — packing round-trips integers exactly, so both
    forms score identically.

    ``candidate_pred`` restricts the CANDIDATE side only (alias `c` in
    pq_scored) — the tombstone-deletion twin: deleted rows leave the
    candidate pool while the frozen model (trained before the deletes)
    and the query set stay full-corpus, exactly the merge-on-read
    semantics of `delete_from_ann_index`.

    ``src``/``assign_src``/``query_src`` (r13) re-target the model
    training base, the candidate relation, and the query relation —
    the online ingestion-gate shape (frozen model + candidates from
    the historical slice, every arriving row a query); the defaults
    render the exact historical text of every certified serve
    oracle. ``k`` (r14) sizes the survivor cut (k+20) and the final
    rank cut exactly like _ivfpq_serve's k — the two sides stay one
    parameterization.

    r14 allocator-footprint restructure (the r13 harness-OOM item):
    per-vector norms are factored into a `norms` CTE keyed by vec_id,
    so the pq_scored aggregation no longer carries two 64-double
    embedding arrays in its GROUP BY keys — the aggregate groups on
    two int64s and the norms attach by key join afterward. Same
    expressions on the same values, so every certified hash is
    unchanged; the hash table behind the biggest intermediate shrinks
    ~30x in key width. The subspace slices materialize once into
    esub/psub/qsub columns instead of re-slicing per expression
    reference — the jemalloc extent-churn fix that keeps the oracle
    process under vm.max_map_count (see _index_table_sql's r14
    note; that churn is what killed the r13 driver window)."""
    from ..functions.vector import sql_dist_double, sql_dot_dec, sql_norm

    cos = sql_cosine("q.embedding", "c.embedding")
    return f"""
WITH {_ivf_index_ctes(src=src, assign_src=assign_src, query_src=query_src, nprobe=nprobe)},
pqc AS (
  SELECT r.rp - 1 AS p, e.embedding AS cv
  FROM (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rp FROM {src}
  ) r JOIN embeddings e ON e.vec_id = r.vec_id
  WHERE r.rp <= {PQ_K}
),
subsp AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s),
esub AS (
  SELECT c.vec_id, g.s,
         list_slice(e.embedding::DOUBLE[], g.s*8+1, g.s*8+8) AS ev
  FROM corpus_cells c JOIN embeddings e ON e.vec_id = c.vec_id, subsp g
),
psub AS (
  SELECT p.p, g.s,
         list_slice(p.cv::DOUBLE[], g.s*8+1, g.s*8+8) AS pv
  FROM pqc p, subsp g
),
codes AS (
  SELECT vec_id, s, p AS code FROM (
    SELECT vec_id, s, p,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id, s ORDER BY dist ASC, p ASC
           ) AS rk
    FROM (
      SELECT e.vec_id, e.s, p.p,
             {sql_dist_double('e.ev', 'p.pv', PQ_DSUB)} AS dist
      FROM esub e JOIN psub p ON p.s = e.s
    ) d
  ) WHERE rk = 1
),
norms AS (
  SELECT vec_id, {sql_norm('embedding')} AS nrm FROM embeddings
),
qsub AS (
  SELECT x.vec_id, g.s,
         list_slice(e.embedding::DOUBLE[], g.s*8+1, g.s*8+8) AS qv
  FROM (SELECT DISTINCT vec_id FROM query_cells) x
  JOIN embeddings e ON e.vec_id = x.vec_id, subsp g
),
pq_dot AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         SUM({sql_dot_dec('qs.qv', 'p.pv')}) AS d
  FROM query_cells q
  JOIN corpus_cells c ON c.cell = q.qcell AND c.vec_id <> q.vec_id
                     AND ({candidate_pred})
  JOIN codes k ON k.vec_id = c.vec_id
  JOIN qsub qs ON qs.vec_id = q.vec_id AND qs.s = k.s
  JOIN psub p ON p.s = k.s AND p.p = k.code
  GROUP BY q.vec_id, c.vec_id
),
pq_scored AS (
  SELECT t.query_id, t.vec_id,
         CAST(t.d AS DOUBLE) / (qn.nrm * cn.nrm) AS cos_pq
  FROM pq_dot t
  JOIN norms qn ON qn.vec_id = t.query_id
  JOIN norms cn ON cn.vec_id = t.vec_id
),
survivors AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_pq DESC, vec_id ASC
           ) AS rk_pq
    FROM pq_scored
  ) WHERE rk_pq <= {k + 20}
),
rescored AS (
  SELECT s.query_id, c.vec_id AS neighbor_id, {cos} AS cosd
  FROM survivors s
  JOIN embeddings c ON c.vec_id = s.vec_id
  JOIN embeddings q ON q.vec_id = s.query_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT query_id, neighbor_id,
         CAST(ROUND(CAST(cosd AS DECIMAL(38,10)), 6) AS DOUBLE) AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosd DESC, neighbor_id ASC
         ) AS rank
  FROM rescored
) WHERE rank <= {k}
"""


QUERIES["sim_topk_ivfpq"] = sim_topk_ivfpq
ORACLES["sim_topk_ivfpq"] = _sim_ivfpq_sql()


# ---------------------------------------------------------------------------
# Persisted ANN index (r12, r11 verdict item 3): the production
# build/query split sim_topk_ivfpq implies but didn't ship. BUILD
# materializes the corpus-side index state — (vec_id, vnorm, pq_code)
# partitioned BY CELL, the on-disk inverted-lists layout (one parquet
# partition per IVF cell, the FAISS/ScaNN disk shape) — under a
# data-fingerprinted path; QUERY serves the exact sim_topk_ivfpq chain
# from that table with NO k-means assignment and NO PQ code computation
# on the corpus side (pinned by a plan test: no MapInPandas stage, scan
# reads the index path). At 100 TB the index is built once per corpus
# snapshot and amortized over every query batch; cell is the partition
# column so a probed-cell predicate prunes partitions at the source
# (nprobe x |queries| cells read, not the corpus). A deploy corpus
# with k ~ sqrt(n) cells in the millions would coarsen the layout to
# range-bucketed cell groups — directory-per-cell is the right shape
# up to ~10^5 cells.

#: bump to invalidate every persisted index when the layout changes
#: (v2: unowned-cell rows dropped from the table, r12 review;
#: v4: the `label` attribute column rides in the table so serving can
#: push metadata predicates into the index scan — filtered ANN;
#: v5: stored vnorm recomputed after the dot_dec accumulator fix —
#: functions/vector.py ACC — so the table's norms equal what the
#: now-exact fold produces;
#: v6: delete files carry the cell partition column (r14 — Iceberg-
#: style metadata-priced tombstone-cell discovery); the bump retires
#: any cached vec_id-only tombstone dirs so one directory never mixes
#: both schemas)
#: v7 (r15): generation-directory layout — data lives in `data.g<N>`
#: snapshots behind a `_current` pointer file; rewriters publish whole
#: generations and readers resolve the pointer, closing the §32
#: reader-vs-rewriter race
#: v8 (r16): IVF cell-size cap (ANN_CELL_STRIDE_CAP — cell count grows
#: with the corpus instead of cell size, holding per-query candidate
#: volume constant; measured 1.8x on the sf10 ingest gate). Cached
#: tables at certification SFs are content-identical (their strides
#: sit under the cap) but rebuild once under the new fingerprint.
ANN_INDEX_VERSION = 8


def _ann_index_path(sf_dir: str, variant: str = "full") -> tuple[str, str]:
    """(index directory, data fingerprint) — catalog.model_cache_path
    with the index geometry + layout version in the fingerprint, so a
    regenerated corpus or a geometry change rebuilds; an unchanged
    fingerprint means the persisted index IS what rebuilding would
    produce (assignment and codes are bit-deterministic). Each variant
    (full / hist / frag, see build_ann_index) gets its own directory
    AND its own fingerprint term."""
    from ..catalog import model_cache_path

    return model_cache_path(
        sf_dir,
        "ann_ivfpq" if variant == "full" else f"ann_ivfpq_{variant}",
        "embeddings",
        f"{PQ_M}:{PQ_K}:{PQ_DSUB}:{variant}:v{ANN_INDEX_VERSION}",
    )


def build_ann_index(
    spark: SparkSession, sf_dir: str, variant: str = "full"
) -> str:
    """Build (or reuse) the persisted IVF-PQ index for sf_dir's
    embeddings; returns the index directory. The data is
    sim_topk_ivfpq's corpus_coded frame PLUS the raw vector column
    (the re-rank refinement payload — the DiskANN/IVFPQR layout: PQ
    codes drive candidate generation, raw vectors are point-fetched
    for the ~(K+20) x queries survivors only, so serving never needs
    the source corpus), repartitioned BY CELL before the partitionBy
    write so each cell lands as one file instead of (cells x
    shuffle-partitions) fragments.

    The `_ann_meta.json` sidecar carries the data fingerprint AND the
    frozen model itself (IVF cells + PQ codebook — bounded O(k x d)
    floats; JSON round-trips doubles exactly), so a serving session
    reconstructs broadcast model state from the sidecar alone (r12
    verdict item 2). It is written AFTER the parquet publish, so a
    crashed build is invisible (stale meta -> rebuild).

    Variants: "full" = the whole corpus (sim_index_query's table);
    "hist" = the vec_id % 10 != 7 slice, model trained on that slice
    (the pre-existing table sim_index_append appends to); "frag" =
    full-corpus content written as two appends so cells hold multiple
    files (the compaction entry's worn-table starting state — content
    is bit-identical to "full", only the file layout differs);
    "fragcell" (r14) = full-corpus content with only the ~1%
    vec_id % 100 == 7 slice appended second, so only the cells that
    slice lands in are fragmented — the incremental-compaction
    entry's starting state (most of a production table is already
    compacted; today's append fragmented a few cells); "del" =
    full-corpus content in its own directory (the deletion entry's
    table — tombstones mutate per-directory state, so it cannot share
    "full"'s). A (re)build clears any pending tombstones: a fresh
    table has no pending deletes.

    Concurrency (r12 ADVICE): the parquet write stages into a per-pid
    temp dir and is renamed into place, so two sessions racing the
    same cache miss can no longer interleave writes into the live
    directory — the loser's rename fails and it discards its staging
    copy (content is bit-identical by determinism either way)."""
    import json
    import os
    import shutil

    path, fp = _ann_index_path(sf_dir, variant)
    meta_path = os.path.join(path, "_ann_meta.json")
    try:
        with open(meta_path) as fh:
            # a surviving meta over a deleted/partial data dir must
            # rebuild, not serve a path that can't be read (r12 review)
            meta = json.load(fh)
            if (
                meta.get("fp") == fp
                and "model" in meta
                and os.path.isdir(_ann_data_dir(path))
            ):
                return path
    except (OSError, ValueError):
        pass

    _, corpus = _queries_and_corpus(spark, sf_dir)
    subset = "hist" if variant == "hist" else ""
    train_src = corpus.filter(F.col("vec_id") % 10 != 7) if subset else corpus
    cb, cells_py = _ivf_model(spark, sf_dir, train_src, subset)
    _pqcb, pq_py = _pq_codebook(spark, sf_dir, train_src, subset)
    coded = _coded_frame(
        cb, pq_py, train_src, ["vec_id", "cell", "vnorm", "v", "label"]
    )

    # stage -> publish: write into a per-pid temp sibling, publish it
    # as the next GENERATION and flip the `_current` pointer (r15).
    # Readers of THIS table are never raced: same-fingerprint sibling
    # generations and the pointer target are spared by the cleanup
    # below (r16). A reader still on a generation of the PREVIOUS
    # fingerprint (the corpus itself was swapped) loses its files
    # immediately — the documented residual of a corpus swap, which
    # no snapshot of the NEW table can protect. Shared crash
    # recovery first: dead-pid staging debris (including this pid's
    # own crashed predecessor — pid reuse, r14 ADVICE) is swept.
    _recover_compactor_debris(path)
    tmp = os.path.join(path, f"data__build_tmp.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    if variant in ("frag", "fragcell"):
        mod = 10 if variant == "frag" else 100
        for mode, pred in (("overwrite", "!="), ("append", "=")):
            (
                coded.filter(F.expr(f"vec_id % {mod} {pred} 7"))
                .repartition(F.col("cell"))
                .write.mode(mode)
                .partitionBy("cell")
                .parquet(tmp)
            )
    else:
        (
            coded.repartition(F.col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp)
        )
    with open(os.path.join(tmp, "_fp"), "w") as fh:
        fh.write(fp)  # generation fingerprint stamp (r16)
    published = _publish_generation(path, tmp)
    if published is None:
        # lost a concurrent-build race: another session published an
        # identical table between our miss check and our rename
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        # a (re)build is a NEW table — the fingerprint changed or the
        # table never existed. Prior generations hold the previous
        # fingerprint's content, which is dead state rather than this
        # table's time-travel history: drop them now so every
        # generation number below the pointer refers to THIS table's
        # lineage (sim_index_time_travel depends on that invariant) —
        # EXCEPT (r16, r15 ADVICE): never the `_current` target and
        # never a sibling stamped with OUR fingerprint. Concurrent
        # builders of the same table both publish (the rename retries
        # at the next number), and without these exemptions the
        # earlier builder's cleanup deleted the later builder's live
        # generation out from under the pointer. Same-fp content is
        # bit-identical by determinism, so sparing it is exact; an
        # in-flight reader of a genuinely OLD fingerprint's generation
        # remains the documented residual of a corpus swap — UNLESS it
        # holds a lease: pin_ann_index_generation protects against
        # EVERY remover (expiry AND this cleanup; r16 — a lease that
        # only some removers honored would be a confusing contract),
        # at the documented price that a pinned old-fp generation
        # temporarily aliases a lineage number time travel would
        # otherwise consider this table's own. The legacy pre-v7 bare
        # `data` dir is the same dead state.
        try:
            with open(os.path.join(path, "_current")) as fh:
                cur = fh.read().strip()
        except OSError:
            cur = ""
        pinned = _pinned_generations(path)
        for _n, d in _ann_gen_dirs(path):
            if d == published or os.path.basename(d) == cur:
                continue
            if os.path.basename(d) in pinned:
                continue  # leased by a live reader (r16)
            try:
                with open(os.path.join(d, "_fp")) as fh:
                    if fh.read() == fp:
                        continue
            except OSError:
                pass
            # same two-phase handshake as expiry (r16 review, second
            # pass): a lease landing after the snapshot above is
            # caught by the re-checks inside the removal
            _remove_generation_if_unleased(path, d)
        shutil.rmtree(os.path.join(path, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(path, "tombstones"), ignore_errors=True)

    tmp_meta = f"{meta_path}.tmp.{os.getpid()}"
    with open(tmp_meta, "w") as fh:
        json.dump(
            {
                "fp": fp,
                "version": ANN_INDEX_VERSION,
                "model": {"cells": cells_py, "pq": pq_py},
            },
            fh,
        )
    os.replace(tmp_meta, meta_path)
    return path


def _ann_local_data(path: str, fn: str) -> tuple[str, str]:
    """(local index dir, CURRENT data dir) for the generation-swapping
    maintenance ops, rejecting non-local URIs — shared by both
    compactors (r14 review: the guard existed in three verbatim
    copies). The data dir is resolved through the `_current` snapshot
    pointer (r15)."""
    import os

    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"{fn} swaps directories with local fs calls; "
            f"got non-local URI {path!r}"
        )
    local = path[len("file://"):] if path.startswith("file://") else path
    return local.rstrip("/") or local, _ann_data_dir(local)


#: a superseded generation directory survives at least this long after
#: a newer one is published (on top of the keep-two-newest floor), so
#: any reader whose scan started before the flip finishes against
#: intact files. This is the local twin of Iceberg's expire_snapshots
#: retain-last + max-snapshot-age contract; readers slower than this
#: bound are the documented residual (production: snapshot expiry is
#: operator-scheduled with an explicit retention SLA).
ANN_GEN_RETENTION_SECS = 120.0


def _ann_gen_dirs(local: str) -> list[tuple[int, str]]:
    """Sorted [(generation number, dirpath)] for every published
    `data.g<N>` generation directory under the index root."""
    import glob as globmod
    import os

    out = []
    base = os.path.join(globmod.escape(local.rstrip("/")), "data.g*")
    for d in globmod.glob(base):
        if not os.path.isdir(d):
            continue
        tail = os.path.basename(d)[len("data.g"):]
        if tail.isdigit():  # excludes in-flight "data.gN.tmp.<pid>"
            out.append((int(tail), d))
    return sorted(out)


def ann_index_generations(path: str) -> list[int]:
    """Published generation numbers of a persisted index, oldest
    first — the time-travel surface (`serve_ann_index(...,
    generation=N)` serves any generation still inside the retention
    window)."""
    local = path[len("file://"):] if path.startswith("file://") else path
    return [n for n, _ in _ann_gen_dirs(local)]


def _ann_data_dir(local: str, generation: int | None = None) -> str:
    """Resolve the index's ACTIVE data directory through the
    `_current` snapshot pointer (r15 — the fix for the §32
    reader-vs-rewriter race): rewriters publish whole new generation
    directories (`data.g<N>`) and flip the pointer by atomic rename,
    so a reader that resolved the pointer scans a directory whose
    files are never deleted from under it (superseded generations
    outlive in-flight scans via _gc_generations' retention).
    `generation` pins an explicit generation for time travel. Falls
    back to the bare `data` dir for pre-v7 legacy tables."""
    import os

    local = local.rstrip("/") or local
    if generation is not None:
        gen = os.path.join(local, f"data.g{generation:06d}")
        if not os.path.isdir(gen):
            raise FileNotFoundError(
                f"index generation {generation} not found (expired or "
                f"never published) under {local!r}"
            )
        return gen
    try:
        with open(os.path.join(local, "_current")) as fh:
            name = fh.read().strip()
        cand = os.path.join(local, name)
        if (
            name.startswith("data.g")
            and os.sep not in name
            and os.path.isdir(cand)
        ):
            return cand
    except OSError:
        pass
    return os.path.join(local, "data")


def _flip_pointer_forward(local: str) -> None:
    """Advance `_current` to the HIGHEST published generation,
    re-verifying after each write (r16 review). A blind one-shot flip
    can REGRESS the pointer: a publisher descheduled between its
    rename and its flip wakes after a successor (possibly one that
    adopted its orphan, compacted it, and cleared tombstones) has
    already flipped forward — the late blind write would point readers
    at a superseded generation whose purged rows have no pending
    tombstones left. This helper only ever moves the pointer forward
    (generation numbers grow monotonically) and re-reads after every
    write, so two racing flippers converge on the maximum; the
    theoretical residual (both dying inside the last verify window) is
    repaired by the next writer's entry recovery.

    Retention clock (r17, ADVICE): ANN_GEN_RETENTION_SECS promises a
    superseded generation survives that long AFTER a newer one is
    published, but expiry ages by dir mtime — the time the files were
    WRITTEN. A generation that was current for hours would become
    expiry-eligible the instant two successors landed (and, worse, a
    freed base+1 number is the enabling condition for the stale-CAS
    hole _publish_generation now re-verifies). So the flip stamps
    (os.utime) every generation it supersedes — old current .. top-1;
    generations below the old current were stamped by their own
    supersession flips — plus the legacy bare `data` dir on a
    migrating table's first flip. Ages are then measured from
    supersession, matching the documented contract."""
    import os

    for _ in range(4):
        gens = _ann_gen_dirs(local)
        if not gens:
            return
        top = os.path.basename(gens[-1][1])
        top_n = gens[-1][0]
        try:
            with open(os.path.join(local, "_current")) as fh:
                cur = fh.read().strip()
        except OSError:
            cur = ""
        if cur == top:
            return
        tail = cur[len("data.g"):] if cur.startswith("data.g") else ""
        if (
            tail.isdigit()
            and int(tail) > top_n
            and os.path.isdir(os.path.join(local, cur))
        ):
            return  # already ahead of our directory listing
        tmp = os.path.join(local, f"_current.tmp.{os.getpid()}")
        with open(tmp, "w") as fh:
            fh.write(top)
        os.replace(tmp, os.path.join(local, "_current"))
        # supersession stamp: only the generations THIS flip moved
        # past (never everything below top — re-stamping long-
        # superseded generations on every flip would stop a hot
        # table from ever expiring anything)
        cur_n = int(tail) if tail.isdigit() else None
        for n, d in gens:
            if n >= top_n or (cur_n is not None and n < cur_n):
                continue
            try:
                os.utime(d)
            except OSError:
                pass
        if cur_n is None:
            legacy = os.path.join(local, "data")
            if os.path.isdir(legacy):
                try:
                    os.utime(legacy)
                except OSError:
                    pass
        # loop: re-verify the write still names the highest generation


def _publish_generation(
    local: str, staged: str, base: int | None = None
) -> str | None:
    """Atomically publish a fully-written staging directory as the
    next generation and flip the `_current` pointer to it. Returns the
    published dir, or None when another publisher won.

    Two modes (r16):

    - ``base=N`` — COMPARE-AND-SWAP publish, the Iceberg
      optimistic-commit primitive: the caller staged its directory
      from generation N and the rename is attempted at N+1 ONLY. If
      N+1 already exists, someone else committed a successor first
      and THIS staging is stale (it may be missing the winner's
      appended rows, or resurrect its purged ones) — return None so
      the caller re-derives from the new current generation and
      re-stages. Because every CAS target is pointer+1 and the
      pointer only advances through the flip below, commits are
      strictly serialized: no writer can skip ahead of an
      unflipped predecessor.

    - ``base=None`` — legacy first-wins publish, used ONLY by
      build_ann_index (a rebuild derives from the CORPUS, not from a
      prior generation, and concurrent builds of the same fingerprint
      stage bit-identical content): a number collision retries at
      the following number since either result is a valid successor.
      Mutating callers (appends, compactors) must never use this
      mode — their staged content is only valid against the exact
      base it was derived from.

    In CAS mode None means a successor committed first: either the
    target generation exists, or the head already advanced PAST the
    target (r17, ADVICE high — see below). Any other rename failure
    (EACCES, staging swept, read-only fs) RAISES — retrying cannot
    help, and conflating it with a lost race misdiagnoses hard faults
    as contention (r16 review). The pointer flip is flip-with-verify
    (_flip_pointer_forward), never a blind write.

    Stale-base hole (r17, ADVICE high): a CAS whose base+1 number was
    used by a successor that has since EXPIRED would find the target
    name free, rename "successfully" at a number BELOW the live top,
    and report a win — planting a non-lineage generation no reader
    resolves (silent append loss; a compactor would clear tombstones
    whose rows live on in the real top: deleted rows resurrect).
    Closed twice over: (1) before consuming the staging, the CAS
    re-lists generations and returns None when any successor > base
    exists; (2) after the rename, it re-verifies the head actually
    advanced to exactly base+1 — if a higher generation exists the
    just-renamed target is rolled back (rmtree) and None returned, so
    the caller re-derives from the true current generation. The
    rollback can never remove a generation a successor built on: a
    CAS successor must first RESOLVE the pointer to us, which only
    happens after this function flips it — i.e. after the verify
    passed. (_flip_pointer_forward's supersession stamping makes the
    enabling condition — a freed base+1 inside the verify window —
    require >= retention seconds of stall between the two checks.)"""
    import os
    import shutil

    local = local.rstrip("/") or local
    for _ in range(16):
        if base is not None:
            nxt = base + 1
            gens = _ann_gen_dirs(local)
            if gens and gens[-1][0] > base:
                # successors already exist — base+1 is (or was) taken;
                # even if the number is now free (expired successor),
                # committing there would land BELOW the live top
                try:
                    _flip_pointer_forward(local)
                except OSError:
                    pass
                return None
        else:
            gens = _ann_gen_dirs(local)
            nxt = (gens[-1][0] + 1) if gens else 1
        target = os.path.join(local, f"data.g{nxt:06d}")
        try:
            os.rename(staged, target)
        except OSError:
            if base is not None:
                if os.path.isdir(target):
                    # true CAS loss: a successor committed first. If
                    # ITS publisher died (or is mid-flip) the pointer
                    # may still name our stale base — adopt by
                    # flipping forward so the caller's re-resolve sees
                    # the successor instead of livelocking on the same
                    # base forever (r16 review)
                    try:
                        _flip_pointer_forward(local)
                    except OSError:
                        pass  # best-effort; recovery re-runs it
                    return None
                # target absent → NOT a race (EACCES, swept staging,
                # read-only fs …): reporting it as a lost CAS sends
                # callers into futile re-stage loops and misdiagnosed
                # "contention" errors (r16 review) — surface the cause
                raise
            if os.path.isdir(target) and os.path.isdir(staged):
                continue  # number taken — retry at the next one
            return None  # staging gone or unrenamable: lost the pass
        if base is not None:
            # post-rename head verify (r17, ADVICE high): the rename
            # succeeded, but if a generation > nxt exists the base+1
            # number had been freed by expiry and this commit sits
            # BELOW the live top — roll it back and report the lost
            # race so the caller re-derives. Safe: no reader or CAS
            # successor can have adopted the target yet (the pointer
            # has not been flipped to it, and higher generations are
            # never flipped back), so nothing was made visible.
            gens = _ann_gen_dirs(local)
            if gens and gens[-1][0] > nxt:
                shutil.rmtree(target, ignore_errors=True)
                try:
                    _flip_pointer_forward(local)
                except OSError:
                    pass
                return None
        # flip-with-verify, never blind (r16 review): if a successor
        # committed while we were between the rename and this flip,
        # writing our own name would regress the pointer past it.
        # The rename above made the commit DURABLE — a flip failure
        # (ENOSPC on the pointer write …) must not be reported as
        # "nothing committed": callers would retry and double-insert
        # once adoption makes the orphan visible (r16 review, second
        # pass). The flip is best-effort; recovery adopts orphans.
        try:
            _flip_pointer_forward(local)
        except OSError as exc:
            import warnings

            warnings.warn(
                f"_publish_generation: {os.path.basename(target)} "
                f"committed but the pointer flip failed ({exc}); the "
                "next writer's entry recovery adopts it",
                stacklevel=2,
            )
        return target
    return None


def pin_ann_index_generation(path: str, generation: int | None = None):
    """Reader LEASE on a generation — the local analogue of Iceberg
    snapshot pinning, for scans that may outlive the retention window
    (r16, closing the r15 verdict's 'retention age vs in-flight
    scans' hole): a context manager that drops a
    `_pin.<pid>.<nonce>.data.g<N>` file which
    expire_ann_index_generations
    refuses to expire past while the owning process lives. The nonce
    (r17, ADVICE) makes each lease's file unique: two readers in one
    process pinning the same generation hold INDEPENDENT files, so
    the first to exit can no longer delete the lease out from under
    the other. Liveness is judged by os.kill(pid, 0) — the protocol
    assumes every participant shares ONE pid namespace (the same
    assumption as the local-filesystem-only layout: containers
    sharing the index volume but not a pid namespace would misread
    live readers as dead). Dead-pid pins are swept by the expiry
    pass itself (crash-safe: a reader
    that dies releases its lease by dying). Yields the pinned
    generation directory — hand it to serve_ann_index via
    `generation=` or read it directly; without a pin, a scan slower
    than ANN_GEN_RETENTION_SECS across >=2 subsequent publishes is
    the documented failure mode (FAILED_READ_FILE; retry by
    re-resolving). Legacy pointerless tables yield their bare data
    dir (rewrites there are whole-dir swaps; nothing to lease)."""
    import contextlib
    import os
    import uuid

    @contextlib.contextmanager
    def _lease():
        local = (
            path[len("file://"):] if path.startswith("file://") else path
        )
        local = local.rstrip("/") or local
        pin = gen_dir = None
        for _ in range(4):
            gen_dir = _ann_data_dir(local, generation)
            name = os.path.basename(gen_dir)
            if not name.startswith("data.g"):
                yield gen_dir
                return
            pin = os.path.join(
                local, f"_pin.{os.getpid()}.{uuid.uuid4().hex}.{name}"
            )
            with open(pin, "w"):
                pass
            # verify AFTER the pin lands (r16 review — pin-then-check
            # is the reader half of the expiry handshake: the expiry
            # pass renames a candidate aside and THEN re-checks pins,
            # so a pin created before that re-check is honored, and a
            # pin created after it finds the dir already gone HERE and
            # retries against a live generation; no leased generation
            # is ever removed)
            if os.path.isdir(gen_dir):
                break
            try:
                os.remove(pin)
            except OSError:
                pass
            pin = None
        else:
            raise FileNotFoundError(
                "pin_ann_index_generation: could not lease a live "
                f"generation under {local!r} (every resolve raced an "
                "expiry); retry or re-resolve"
            )
        try:
            yield gen_dir
        finally:
            try:
                os.remove(pin)
            except OSError:
                pass

    return _lease()


def _pinned_generations(local: str) -> set[str]:
    """Generation basenames leased by LIVE processes; stale (dead-pid)
    pin files are removed as a side effect."""
    import glob as globmod
    import os

    pinned: set[str] = set()
    for p in globmod.glob(
        os.path.join(globmod.escape(local.rstrip("/")), "_pin.*")
    ):
        parts = os.path.basename(p).split(".", 2)
        if len(parts) != 3 or not parts[1].isdigit():
            continue
        # r17 lease files are _pin.<pid>.<nonce>.<gen name>; r16 files
        # (no nonce) still parse — parts[2] is the gen name directly
        rest = parts[2]
        if not rest.startswith("data.g"):
            _nonce, _, rest = rest.partition(".")
        if not rest.startswith("data.g"):
            continue
        pid = int(parts[1])
        alive = pid == os.getpid()
        if not alive:
            try:
                os.kill(pid, 0)
                alive = True
            except ProcessLookupError:
                alive = False
            except PermissionError:
                alive = True  # exists under another uid
        if alive:
            pinned.add(rest)
        else:
            try:
                os.remove(p)
            except OSError:
                pass
    return pinned


def _remove_generation_if_unleased(local: str, d: str) -> bool:
    """Two-phase, lease-honoring removal of ONE generation dir —
    shared by expiry and the rebuild cleanup (r16 review, second
    pass: every remover must run the SAME handshake, or a pin landing
    after a remover's snapshot is violated by whichever remover
    skipped it). Re-checks pins immediately before the rename-aside
    (narrowing caller-snapshot staleness to microseconds), renames the
    candidate aside (atomic), re-checks pins AGAIN, then removes — or
    restores when a lease landed mid-flight (the reader half is
    pin-then-verify, see pin_ann_index_generation). Returns True when
    the generation was removed. A failed restore warns LOUDLY instead
    of passing silently: the aside dir carries this live pid, so no
    other process's recovery will touch it — the warning is the only
    signal the lease contract needs manual repair."""
    import os
    import shutil

    name = os.path.basename(d)
    if name in _pinned_generations(local):
        return False
    aside = os.path.join(local, f"data__expired_tmp.{name}.{os.getpid()}")
    try:
        os.rename(d, aside)
    except OSError:
        return False  # raced another remover
    if name in _pinned_generations(local):
        try:
            os.rename(aside, d)  # leased mid-flight — restore
        except OSError as exc:
            import warnings

            warnings.warn(
                f"generation removal: could not restore leased {name} "
                f"from {aside} ({exc}); reader lease violated — "
                "restore the directory manually",
                stacklevel=3,
            )
        return False
    shutil.rmtree(aside, ignore_errors=True)
    return True


def _copy_fp_stamp(src_dir: str, dst_dir: str) -> None:
    """Propagate a generation's `_fp` fingerprint stamp (r16) into its
    staged successor, so rebuild cleanup can tell same-table siblings
    (spared — bit-identical content by determinism) from
    old-fingerprint lineage (dropped). A missing stamp (pre-r16
    generation) propagates as missing and is treated as old lineage."""
    import os
    import shutil

    try:
        shutil.copyfile(
            os.path.join(src_dir, "_fp"), os.path.join(dst_dir, "_fp")
        )
    except OSError:
        pass


def expire_ann_index_generations(
    path: str,
    keep_last: int = 2,
    max_age_secs: float | None = None,
) -> list[int]:
    """Explicit snapshot expiry — the Iceberg `expire_snapshots`
    surface of the generation layout, and the documented FINAL step of
    a GDPR erasure (a purge-compaction makes the takedown physical in
    the CURRENT generation; expiry removes the pre-purge snapshots
    that still carry the rows). Removes generations beyond the
    `keep_last` newest whose age exceeds `max_age_secs` (default
    ANN_GEN_RETENTION_SECS; pass 0 to expire regardless of age —
    callers doing that assert no reader is in flight), never the
    `_current` pointer's target, and never a generation leased by a
    LIVE reader through pin_ann_index_generation (r16 — the Iceberg
    snapshot-pin analogue; dead readers' pins are swept here). A legacy pre-v7 bare `data` dir on a
    migrated table expires under the same age rule. Returns the
    expired generation numbers, oldest first. Compactions call this
    with the defaults after every publish; operators call it directly
    with an erasure SLA."""
    import os
    import shutil
    import time as _time

    local = path[len("file://"):] if path.startswith("file://") else path
    local = local.rstrip("/") or local
    age_floor = (
        ANN_GEN_RETENTION_SECS if max_age_secs is None else max_age_secs
    )
    # cleared delete files age out under the same floor (r16 — they
    # are snapshot state exactly like superseded generations)
    _sweep_cleared_tombstones(local, age_floor)
    gens = _ann_gen_dirs(local)
    now = _time.time()

    def _expired(d: str) -> bool:
        try:
            return now - os.path.getmtime(d) >= age_floor
        except OSError:
            return False

    try:
        with open(os.path.join(local, "_current")) as fh:
            current = fh.read().strip()
    except OSError:
        current = ""
    legacy = os.path.join(local, "data")
    if current and os.path.isdir(legacy) and _expired(legacy):
        shutil.rmtree(legacy, ignore_errors=True)
    expired: list[int] = []
    keep = max(1, keep_last)
    if len(gens) <= keep:
        return expired
    pinned = _pinned_generations(local)  # also sweeps dead-pid pins
    for n, d in gens[:-keep]:
        name = os.path.basename(d)
        if name == current:
            continue
        if name in pinned:
            continue  # leased by a live reader (r16 snapshot pin)
        if not _expired(d):
            continue
        # two-phase removal closes the pin TOCTOU (r16 review: a pin
        # landing after a single pre-loop snapshot went unseen):
        # fresh pin check, rename the candidate aside (atomic), then
        # re-check pins AGAIN. The lease protocol is pin-then-verify,
        # so a pin created before the post-rename re-check is seen
        # and the candidate restored, while a later pin's verify
        # finds the dir renamed away and its reader retries against
        # a live generation. A crash between the rename and the
        # rmtree leaves a dead-pid data__expired_tmp dir that
        # recovery restores (if pinned) or sweeps.
        if _remove_generation_if_unleased(local, d):
            expired.append(n)
    return expired


def _gc_generations(local: str) -> None:
    """The compactors' implicit expiry pass: the public API with its
    defaults (keep two newest + the retention age)."""
    expire_ann_index_generations(local)


def _debris_pid_dead(name: str) -> bool:
    """True when a staging/aside dir's owning process is gone — the
    trailing `.<pid>` suffix names the owner; a bare r13-era name has
    no owner and is always debris. Recovery must NEVER touch a LIVE
    pass's dirs (r14 review: a concurrent pass's aside dir looked
    like crash debris and restoring it could resurrect purged rows
    mid-swap).

    Debris suffixed with THIS process's own pid is always dead (r14
    ADVICE, pid-reuse hole): recovery runs at compactor entry before
    the pass creates anything, so a dir carrying os.getpid() can only
    belong to a crashed prior run whose pid number was recycled —
    common in containers, where pid numbering restarts. Without this,
    such debris is neither restored nor swept, and the incremental
    pass's makedirs(oldroot) would silently adopt it and later rmtree
    aside cells whose replacements never landed."""
    import os

    tail = name.rsplit(".", 1)
    if len(tail) != 2 or not tail[1].isdigit():
        return True
    if int(tail[1]) == os.getpid():
        return True
    try:
        os.kill(int(tail[1]), 0)
        return False
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # exists, owned by another uid — treat as live


def _recover_compactor_debris(local: str) -> None:
    """Shared crash recovery for both compactors, run at entry:

    - every dead-pid staging dir is swept (`data__build_tmp`,
      `data__compact_tmp`, `data__stage`, `data__gen_tmp`, plus the
      r14-era `__old`/`__cellold` names), so a crash mid-stage can no
      longer leak a table copy per pid (r14 review);
    - dead `_current.tmp.<pid>` pointer staging files are removed;
    - an ORPHAN PUBLISHED GENERATION (renamed into place but its
      publisher died before the pointer flip, r16) is adopted by
      flipping the pointer to the highest generation: a completed
      rename implies fully staged content, and leaving the orphan
      would livelock every CAS publisher (their target, pointer+1,
      exists forever). Adopting for a LIVE publisher mid-flip is
      benign — its own flip rewrites the same pointer value;
    - LEGACY (pre-v7, pointerless) tables only: a missing bare `data`
      dir with a dead `__old` sibling restores the FRESHEST by mtime,
      and dead `__cellold` aside cells whose replacement never landed
      are put back (the r14 per-cell crash windows — generation
      publishes are single atomic renames and need neither).

    Live pids' dirs are untouched — see _debris_pid_dead (a dir
    carrying this process's own pid is always dead: recovery runs
    before the pass creates anything, r14 ADVICE). Glob patterns
    escape the path (a cache path containing glob metacharacters must
    not silently disable recovery)."""
    import glob as globmod
    import os
    import shutil

    local = local.rstrip("/") or local
    data = os.path.join(local, "data")  # legacy layout + staging base
    esc = globmod.escape(data)
    debris = [
        d
        for suffix in ("__old", "__compact_tmp", "__stage", "__cellold",
                       "__build_tmp", "__gen_tmp", "__append_tmp",
                       "__batch_tmp", "__expired_tmp")
        for d in globmod.glob(f"{esc}{suffix}*")
        if os.path.isdir(d)
    ]
    dead = [d for d in debris if _debris_pid_dead(os.path.basename(d))]
    for f in globmod.glob(
        os.path.join(globmod.escape(local), "_current.tmp.*")
    ):
        if _debris_pid_dead(os.path.basename(f)):
            try:
                os.remove(f)
            except OSError:
                pass
    legacy = not os.path.exists(os.path.join(local, "_current"))
    if legacy and not os.path.isdir(data):
        olds = sorted(
            (os.path.getmtime(d), d)
            for d in dead
            if "__old" in os.path.basename(d)
            and "__cellold" not in os.path.basename(d)
        )
        if olds:
            restored = olds[-1][1]
            os.rename(restored, data)
            dead.remove(restored)
    if legacy and os.path.isdir(data):
        for d in dead:
            if "__cellold" in os.path.basename(d):
                for cd in os.listdir(d):
                    if not os.path.isdir(os.path.join(data, cd)):
                        os.rename(
                            os.path.join(d, cd), os.path.join(data, cd)
                        )
    for d in list(dead):
        # a crashed expiry pass's renamed-aside candidate
        # (data__expired_tmp.<gen name>.<pid>, see
        # expire_ann_index_generations' two-phase removal): if the
        # generation is leased by a LIVE reader and its original name
        # is free, RESTORE it instead of sweeping — the expiry crashed
        # between rename-aside and the pin re-check, and the reader's
        # lease must still be honored (r16)
        bn = os.path.basename(d)
        if bn.startswith("data__expired_tmp."):
            gen_name = bn[len("data__expired_tmp."):].rsplit(".", 1)[0]
            if (
                gen_name.startswith("data.g")
                and gen_name in _pinned_generations(local)
                and not os.path.exists(os.path.join(local, gen_name))
            ):
                try:
                    os.rename(d, os.path.join(local, gen_name))
                    dead.remove(d)
                except OSError:
                    pass
    for d in dead:
        shutil.rmtree(d, ignore_errors=True)
    if not legacy:
        # adopt any orphan generation (publisher died pre-flip) —
        # flip-with-verify, converging on the highest (r16 review)
        _flip_pointer_forward(local)


def compact_ann_index(spark: SparkSession, path: str) -> int:
    """Partition-preserving compaction of a persisted index table —
    the OPTIMIZE pass a long-running append stream needs: every
    `stream_live_index_append` micro-batch adds >=1 file per touched
    cell, and after enough batches listing + task scheduling dominate
    the serve scan. Rewrites `path`/data with ONE file per cell
    (repartition on cell before the partitionBy write, exactly the
    build layout) and returns the data-file count after.

    Unlike `ingest.sinks.compact_parquet` (which this mirrors), the
    rewrite must KEEP the hive partitioning — a flat rewrite would
    demote `cell` to a data column and silently break the serve plan's
    dynamic partition pruning. Local filesystem only (the deploy
    equivalent is Iceberg rewrite_data_files, jar-gated in
    lakehouse.py).

    Concurrency contract (r15 — §32 CLOSED): the rewrite publishes a
    whole NEW generation directory (`data.g<N+1>`) and flips the
    `_current` pointer by atomic rename; the superseded generation's
    files are never deleted from under an in-flight reader (retained
    by _gc_generations' keep-two-newest + ANN_GEN_RETENTION_SECS
    floor), so concurrent cold READERS no longer hit
    FAILED_READ_FILE.FILE_NOT_EXIST — the snapshot-pointer answer the
    r14 docstring only documented (dual-process pytest drives a serve
    loop against a compaction loop). Concurrent WRITERS (r16):
    staging is per-pid and the publish is a COMPARE-AND-SWAP at
    base+1 — losing the CAS means a successor (another compactor OR
    an append, which now publishes generations too) committed
    mid-pass, so the pass RE-RUNS against the new current generation
    rather than landing a stale rewrite that would drop the winner's
    rows. Crash discipline: the pointer always names a fully
    published generation; a crash mid-stage leaves only a dead-pid
    staging dir, and a crash between rename and pointer flip leaves
    an orphan generation _recover_compactor_debris adopts."""
    import glob as globmod
    import os
    import shutil

    local, data = _ann_local_data(path, "compact_ann_index")
    _recover_compactor_debris(local)
    tmp = os.path.join(local, f"data__compact_tmp.{os.getpid()}")
    for attempt in range(4):
        # LEASE the base generation for the whole rewrite (r17,
        # ADVICE medium): appends publish generations and run expiry
        # after every commit, and a base superseded by just two
        # appends could otherwise be expired mid-rewrite — yanking
        # files out from under the in-flight Spark job
        # (FAILED_READ_FILE). The pin makes expiry skip the base
        # until this pass's read completes; a base that expired
        # before the pin landed reads as a lost race (re-resolve).
        base = os.path.basename(data)
        base_n = (
            int(base[len("data.g"):]) if base.startswith("data.g") else None
        )
        try:
            lease = pin_ann_index_generation(
                local, base_n
            ) if base_n is not None else None
            if lease is not None:
                data = lease.__enter__()
        except FileNotFoundError:
            data = _ann_data_dir(local)
            continue
        try:
            # purge pending tombstones in the same rewrite (the
            # merge-on-read deletes become physical here, then the delete
            # files are cleared; crash ordering is safe: tombstones are
            # removed only AFTER the purged generation is published, and
            # re-anti-joining already-purged ids is a no-op). Snapshot the
            # delete-file LIST first: a delete landing mid-compaction must
            # survive the clear (it is not purged by this pass) — only the
            # files this rewrite actually folded in are removed (r15).
            tomb_files = _tombstone_files(local)
            src = spark.read.parquet(data)
            if tomb_files:
                src = src.join(
                    F.broadcast(
                        spark.read.parquet(*tomb_files).select("vec_id")
                    ),
                    "vec_id",
                    "left_anti",
                )
            shutil.rmtree(tmp, ignore_errors=True)
            (
                src.repartition(F.col("cell"))
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(tmp)
            )
            _copy_fp_stamp(data, tmp)
        finally:
            if lease is not None:
                lease.__exit__(None, None, None)
        # CAS publish against the exact base we rewrote (r16): losing
        # means a successor committed mid-pass — since appends now
        # publish generations too, the winner's content may DIFFER
        # from our source (new rows), so a stale rewrite must never
        # land at a later number; RE-RUN the pass from the new
        # current generation instead of discarding.
        try:
            published = _publish_generation(local, tmp, base=base_n)
        except OSError as exc:
            # NON-race failure (r16): degrade like an exhausted race —
            # table unchanged, delete files retained, purge deferred
            import warnings

            warnings.warn(
                "compact_ann_index: generation publish failed "
                f"({exc}); table unchanged, delete files retained, "
                "purge deferred",
                stacklevel=2,
            )
            shutil.rmtree(tmp, ignore_errors=True)
            break
        if published is not None:
            _clear_tombstone_files(local, tomb_files)
            break
        shutil.rmtree(tmp, ignore_errors=True)
        data = _ann_data_dir(local)
    else:
        import warnings

        warnings.warn(
            "compact_ann_index: lost the optimistic-commit race on "
            "every attempt; table left as published by the winners "
            "(delete files retained, purge deferred)",
            stacklevel=2,
        )
    _gc_generations(local)
    return len(
        globmod.glob(os.path.join(_ann_data_dir(local), "cell=*", "*.parquet"))
    )


def compact_ann_index_incremental(
    spark: SparkSession, path: str, min_files: int = 2
) -> tuple[int, int]:
    """CELL-SELECTIVE compaction — the pass a 100 TB table actually
    schedules. `compact_ann_index` rewrites the whole table, which is
    the certification-friendly worst case but a non-starter at scale:
    compaction cost must be proportional to the FRAGMENTED data, not
    the table (Delta OPTIMIZE / Iceberg rewrite_data_files both select
    files by fragmentation predicate). This rewrites only the cells
    that need it and leaves every other cell's bytes untouched
    (pytest-pinned by file mtime/inode identity):

    - cells holding >= `min_files` data files (the append-worn set);
    - plus every cell containing a tombstoned row, regardless of file
      count — merge-on-read deletes can only be cleared when ALL
      tombstoned rows are physically purged, so the delete files are
      retained unless the rewrite set covers them (the Iceberg
      delete-file retention rule). With no pending deletes, untouched
      cells stay untouched.

    One Spark job stages every target cell (partition-pruned scan —
    the isin predicate on the partition column prunes to target
    cells; the snapshot tombstone anti-join applied in the same
    pass), then the NEXT GENERATION directory is constructed
    driver-side (r15 — this replaced the r14 per-cell in-place swap
    loop and its aside/restore machinery): every untouched cell's
    files HARD-LINK into the new generation (metadata-priced, same
    inode and mtime — the bytes are shared, preserving the
    cost-∝-fragmentation property), rewritten cells move in from the
    staging dir, fully-tombstoned cells are simply not linked
    (purged). The generation publishes with one atomic rename + a
    `_current` pointer flip, so a concurrent reader sees the old
    generation or the new one, never a half-swapped table — and the
    old generation's files outlive its in-flight scans
    (_gc_generations retention). Crash anywhere before the publish
    leaves only dead-pid staging; the pointer still names the intact
    previous generation. Delete files are cleared (exactly the
    snapshot list) only after the purged generation publishes. The
    publish is a COMPARE-AND-SWAP at base+1 (r16): losing means a
    successor — another compactor or an APPEND, which now publishes
    generations too — committed mid-pass, so the pass re-derives and
    re-runs against the new current generation; only after exhausting
    its retries are the delete files retained for a later pass (the
    serve-side anti-join keeps results correct meanwhile — r14
    ADVICE, carried into the generation design). Returns
    (cells_rewritten, data_files_after). Local filesystem only, like
    compact_ann_index."""
    import glob as globmod
    import os
    import shutil

    local, data = _ann_local_data(path, "compact_ann_index_incremental")
    _recover_compactor_debris(local)
    n_targets = 0
    published = None
    for attempt in range(4):
        # LEASE the base generation for the whole pass (r17, ADVICE
        # medium — same hole as compact_ann_index, and worse here:
        # the hard-link construction below reads the base's inodes
        # file by file, so an expiry mid-pass fails half-way through
        # newgen assembly). Expired-before-pin reads as a lost race.
        _base_name = os.path.basename(data)
        _base_n = (
            int(_base_name[len("data.g"):])
            if _base_name.startswith("data.g")
            else None
        )
        try:
            _lease = pin_ann_index_generation(
                local, _base_n
            ) if _base_n is not None else None
            if _lease is not None:
                data = _lease.__enter__()
        except FileNotFoundError:
            data = _ann_data_dir(local)
            continue
        try:
            published, n_targets, retry = _compact_incremental_pass(
                spark, local, data, min_files
            )
        finally:
            if _lease is not None:
                _lease.__exit__(None, None, None)
        if not retry:
            break
        data = _ann_data_dir(local)
    else:
        # every attempt lost the optimistic-commit race (or the
        # publish rename itself kept failing): the table is whatever
        # the winners published — report 0 cells rewritten (the pair
        # must stay internally consistent, r15 ADVICE) and RETAIN any
        # delete files (serve-side anti-join keeps results correct;
        # the next pass retries the purge)
        import warnings

        n_targets = 0
        warnings.warn(
            "compact_ann_index_incremental: lost the publish race on "
            "every attempt; delete files retained, purge deferred to "
            "next pass",
            stacklevel=2,
        )
    return n_targets, len(
        globmod.glob(
            os.path.join(_ann_data_dir(local), "cell=*", "*.parquet")
        )
    )


def _compact_incremental_pass(
    spark: SparkSession, local: str, data: str, min_files: int
) -> tuple[str | None, int, bool]:
    """One leased attempt of compact_ann_index_incremental: returns
    (published dir or None, cells_rewritten, retry?) where retry=True
    means the CAS was lost and the caller should re-resolve and
    re-run. Split out in r17 so the reader lease (ADVICE medium) can
    wrap exactly one pass."""
    import glob as globmod
    import os
    import shutil

    per_cell: dict[str, list[str]] = {}
    for f in globmod.glob(
        os.path.join(globmod.escape(data), "cell=*", "*.parquet")
    ):
        per_cell.setdefault(
            os.path.basename(os.path.dirname(f)), []
        ).append(f)
    targets = {c for c, fs in per_cell.items() if len(fs) >= min_files}
    tomb_files = _tombstone_files(local)
    tombs = (
        spark.read.parquet(*tomb_files) if tomb_files else None
    )
    if tombs is not None:
        if "cell" in tombs.columns and tombs.filter(
            F.col("cell").isNull()
        ).limit(1).count() == 0:
            # metadata-priced discovery (r14 review): the delete
            # files carry the partition like Iceberg's — no table
            # scan; a replayed takedown may target already-purged
            # rows, which costs a wasted (correct) rewrite of its
            # cells at most
            tomb_cells = tombs.select("cell").distinct().collect()
        else:
            # legacy vec_id-only delete files: one table scan
            tomb_cells = (
                spark.read.parquet(data)
                .select("vec_id", "cell")
                .join(F.broadcast(tombs.select("vec_id")), "vec_id")
                .select("cell")
                .distinct()
                .collect()
            )
        tomb_dirs = (
            {f"cell={r['cell']}" for r in tomb_cells} & set(per_cell)
        )
        if tomb_dirs:
            targets |= tomb_dirs
        else:
            # nothing the delete files point at exists any more (a
            # replay after a completed purge, or a crash after the
            # publish but before the tombstone clear): the purge
            # is already complete — clear the snapshot files now
            # instead of taxing every future serve with a dead
            # anti-join (r14 review)
            _clear_tombstone_files(local, tomb_files)
            tombs = None
    n_targets = len(targets)
    if not targets:
        return None, 0, False
    cell_vals = sorted(int(c.split("=", 1)[1]) for c in targets)
    src = spark.read.parquet(data)
    if tombs is not None:
        src = src.join(
            F.broadcast(tombs.select("vec_id")), "vec_id", "left_anti"
        )
    stage = os.path.join(local, f"data__stage.{os.getpid()}")
    shutil.rmtree(stage, ignore_errors=True)
    (
        src.filter(F.col("cell").isin(cell_vals))
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(stage)
    )
    # construct the next generation: links for clean cells, moves
    # for rewritten ones, nothing for purged ones
    newgen = os.path.join(local, f"data__gen_tmp.{os.getpid()}")
    shutil.rmtree(newgen, ignore_errors=True)
    os.makedirs(newgen)
    for c, files in sorted(per_cell.items()):
        if c in targets:
            staged = os.path.join(stage, c)
            if os.path.isdir(staged):
                os.rename(staged, os.path.join(newgen, c))
            # else: every row of this cell was tombstoned — purged
        else:
            os.makedirs(os.path.join(newgen, c))
            for f in files:
                os.link(f, os.path.join(newgen, c, os.path.basename(f)))
    _copy_fp_stamp(data, newgen)
    # CAS publish against the exact base this pass rewrote (r16,
    # same rationale as compact_ann_index: a successor committed
    # mid-pass may carry appended rows our stale stage lacks — the
    # pass must RE-RUN, never land at a later number)
    base = os.path.basename(data)
    try:
        published = _publish_generation(
            local,
            newgen,
            base=(
                int(base[len("data.g"):])
                if base.startswith("data.g")
                else None
            ),
        )
    except OSError as exc:
        # a NON-race publish failure (r16: _publish_generation now
        # only returns None for a true CAS loss) — retrying cannot
        # help, so degrade exactly like an exhausted race: table
        # unchanged, delete files retained, purge deferred
        import warnings

        warnings.warn(
            "compact_ann_index_incremental: generation publish "
            f"failed ({exc}); table unchanged, delete files "
            "retained, purge deferred to next pass",
            stacklevel=2,
        )
        shutil.rmtree(newgen, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        return None, 0, False
    shutil.rmtree(stage, ignore_errors=True)
    if published is not None:
        if tombs is not None:
            # every tombstoned cell was in the rewrite set and the
            # purged generation is published — exactly the
            # snapshot delete files can go (a delete that landed
            # mid-pass stays pending)
            _clear_tombstone_files(local, tomb_files)
        _gc_generations(local)
        return published, n_targets, False
    shutil.rmtree(newgen, ignore_errors=True)
    return None, n_targets, True


def _read_ann_index(
    spark: SparkSession,
    path: str,
    with_label: bool = False,
    data_dir: str | None = None,
    table: DataFrame | None = None,
) -> DataFrame:
    """The persisted index as sim_topk_ivfpq's corpus_coded shape.
    `cell` comes back as a partition column (directory-encoded int) —
    cast to long to keep the join key type identical to the live
    path's. `with_label` adds the v4 attribute column for filtered
    serving; unfiltered serves leave it out so parquet column pruning
    keeps their scan exactly as narrow as before. `data_dir` pins an
    already-resolved generation dir (r15) so a serve's two scans read
    the SAME snapshot; default resolves the `_current` pointer.
    `table` (r17) passes an already-opened read of that dir so a serve
    needing both the coded and the raw-vector shape lists/infers the
    partitioned tree ONCE — the two shapes are projections of one
    relation, and opening it twice paid a second driver-side file
    listing + footer schema pass per serve for nothing."""
    cols = [
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        "vnorm",
        "pq_code",
    ]
    if with_label:
        cols.append(F.col("label"))
    if table is None:
        from ..catalog import read_parquet_fast

        table = read_parquet_fast(spark, data_dir or _ann_data_dir(path))
    return table.select(*cols)


def _read_ann_vectors(
    spark: SparkSession,
    path: str,
    data_dir: str | None = None,
    table: DataFrame | None = None,
) -> DataFrame:
    """The persisted index's raw-vector payload (vec_id, cell, v,
    vnorm) — the survivor re-fetch source on the self-contained serve
    path. Keeping `cell` lets the re-fetch join partition-prune to the
    probed cells; vnorm is the build-time value, bit-identical to what
    the live path recomputes post-join. `data_dir`/`table` as in
    _read_ann_index."""
    if table is None:
        from ..catalog import read_parquet_fast

        table = read_parquet_fast(spark, data_dir or _ann_data_dir(path))
    return table.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        "v",
        "vnorm",
    )


def _sidecar_model(spark: SparkSession, path: str) -> tuple:
    """The frozen (IVF cells frame, COMBINED (cells, pq) model frame,
    plain pq list) persisted in the index's `_ann_meta.json`. JSON
    round-trips Python floats exactly (repr-based), so the
    reconstructed broadcast model is bit-identical to the trained one
    — pytest-pinned. No corpus scan, no Spark job: this is what lets
    a serving/appending session run from the index directory alone.
    Slot 1 carries the combined serve-side frame since r18
    (`_model_frame`); corpus-side assignment paths keep using the
    pure cells frame in slot 0. Memoized per sidecar bytes: reloading
    is one JSON read + two one-row local relations, so thrash between
    index variants costs ~ms, never a Spark job."""
    import os

    meta = os.path.join(path, "_ann_meta.json")
    build = lambda: _load_sidecar(spark, meta)  # noqa: E731
    return memo(spark, ("sidecar",), build, sources=(meta,))


def _load_sidecar(spark: SparkSession, meta: str) -> tuple:
    import json

    with open(meta) as fh:
        model = json.load(fh)["model"]
    return (
        _cells_frame(spark, model["cells"]),
        _model_frame(spark, model["cells"], model["pq"]),
        model["pq"],
    )


def append_to_ann_index(spark: SparkSession, path: str, batch: DataFrame) -> int:
    """Append new vectors to a persisted index under the FROZEN
    sidecar model — the write half of the production steady state
    whose coded content `sim_index_append` certifies (that entry
    returns the delta; this API lands it). `batch` is (vec_id, v)
    with optional vnorm (computed when absent — the build-time
    decimal norm, bit-identical to what serving recomputes) and
    optional label (the v4 filterable attribute; NULL when absent).
    The rows are cell-assigned + PQ-coded map-side against the frozen
    broadcast codebooks (O(|batch|) flops, no shuffle beyond the
    partitioned write) and COMMITTED AS A NEW GENERATION (r16 —
    closes the one unprotected pairing of the v7 layout, the r15
    verdict item 2): the batch's parquet is written ONCE to a per-pid
    dir (its content is independent of the base generation), then
    each commit attempt constructs a successor purely from HARD
    LINKS — the batch's files plus every file of the base generation
    (metadata-priced — the successor table shares the base's bytes,
    exactly the incremental compactor's clean-cell trick) — and
    publishes through `_publish_generation`'s COMPARE-AND-SWAP mode:
    the rename is attempted at base+1 only. If a compactor (or
    another append) committed first, the CAS fails — our staged
    table is provably stale (it would resurrect the winner's purged
    rows or drop its appends) — so the append re-resolves the pointer
    and RE-LINKS against the new current generation: the
    optimistic-commit retry costs metadata ops, never a repeated
    Spark job (r16 review). There is no
    in-place write and therefore no listing-staleness window at all:
    every interleaving of appends and compactors serializes through
    the pointer, and the former "serialize appends against compaction
    per table" caveat is deleted as fixed behavior (dual-process
    pytest drives an append loop against a compaction loop). A batch
    is O(|batch|) rows of new data plus O(data files) links — the
    same metadata cost class as an Iceberg fast-append manifest.

    One residual documented edge: a DELETE of a vec_id racing an
    append of that same vec_id has no defined order (two writers
    upserting one key without a transaction manager); the tombstone
    anti-join decides at serve time. Pre-v7 pointerless tables keep
    the legacy in-place append. Returns the number of rows appended."""
    import os
    import shutil
    import time as _time

    from ..functions.vector import norm as _vnorm

    cb, _pqcb, pq_py = _sidecar_model(spark, path)
    local = path[len("file://"):] if path.startswith("file://") else path
    local = local.rstrip("/") or local
    _recover_compactor_debris(local)
    if "vnorm" not in batch.columns:
        batch = batch.withColumn("vnorm", _vnorm(F.col("v")))
    if "label" not in batch.columns:
        batch = batch.withColumn("label", F.lit(None).cast("int"))
    # barrier: the count and the write both consume the Arrow code
    # stage — checkpoint the batch-sized coded frame once (appends are
    # O(|batch|) by contract, so the local materialization is bounded
    # by the batch, never the table)
    coded = _coded_frame(
        cb, pq_py, batch, ["vec_id", "cell", "vnorm", "v", "label"]
    ).localCheckpoint(eager=True)
    n = coded.count()
    if n == 0:
        return 0
    if not os.path.exists(os.path.join(local, "_current")):
        # legacy pre-v7 pointerless table: in-place append. Detected
        # by the POINTER's absence, never by _ann_data_dir resolving
        # to the bare `data` dir — on a generation table the pointer
        # target can be transiently missing and the fallback would
        # silently land rows in an orphan dir no reader resolves and
        # expiry later deletes (r16 review)
        (
            coded.repartition(F.col("cell"))
            .write.mode("append")
            .partitionBy("cell")
            .parquet(os.path.join(local, "data"))
        )
        return n
    # write the batch's parquet ONCE — its content is independent of
    # the base generation, so CAS retries re-derive only the LINKS:
    # a lost race costs metadata ops, not a repeated Spark job (r16
    # review; this is what makes the append genuinely the Iceberg
    # fast-append manifest cost class under contention)
    # staging names are PER-CALLER as well as per-pid (r16 review,
    # second pass: the incremental compactor stages under
    # data__gen_tmp.<pid> — sharing it would let same-process
    # append/compact threads rmtree each other's half-built stage).
    # In-process mutators on one table must still not overlap (entry
    # recovery treats own-pid staging as crash debris); concurrent
    # PROCESSES are fully serialized by the CAS protocol.
    batch_dir = os.path.join(local, f"data__batch_tmp.{os.getpid()}")
    stage = os.path.join(local, f"data__append_tmp.{os.getpid()}")
    shutil.rmtree(batch_dir, ignore_errors=True)
    (
        coded.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(batch_dir)
    )
    try:
        for attempt in range(16):
            base_dir = _ann_data_dir(local)
            name = os.path.basename(base_dir)
            if not name.startswith("data.g"):
                # pointer target transiently missing (concurrent
                # repair in flight): wait it out, never write to the
                # bare-dir fallback
                _time.sleep(0.02 * (attempt + 1))
                continue
            base_n = int(name[len("data.g"):])
            shutil.rmtree(stage, ignore_errors=True)
            os.makedirs(stage)
            try:
                # successor = links to the batch's files + links to
                # every file of the base generation (same inodes —
                # the tables share bytes)
                for srcdir in (batch_dir, base_dir):
                    for cd in os.listdir(srcdir):
                        if not cd.startswith("cell="):
                            continue
                        os.makedirs(
                            os.path.join(stage, cd), exist_ok=True
                        )
                        for f in os.listdir(os.path.join(srcdir, cd)):
                            if f.startswith((".", "_")):
                                continue
                            dst = os.path.join(stage, cd, f)
                            if not os.path.exists(dst):
                                os.link(
                                    os.path.join(srcdir, cd, f), dst
                                )
                _copy_fp_stamp(base_dir, stage)
            except FileNotFoundError:
                # the base generation expired mid-link (successors
                # published and aged it out): a lost race, not a
                # failure — re-resolve and re-link (r16 review; the
                # uncaught error here used to crash the append
                # instead of retrying). ONLY FileNotFoundError: other
                # OSErrors (ENOSPC, EPERM, a filesystem without hard
                # links) are persistent faults that must surface, not
                # burn 16 retries and masquerade as a lost race
                # (second-pass review)
                _time.sleep(0.02 * (attempt + 1))
                continue
            published = _publish_generation(local, stage, base=base_n)
            if published is not None:
                _gc_generations(local)
                return n
            # lost the CAS — a successor committed first; re-link
            # from it (_publish_generation flips the pointer forward
            # on a lost CAS, so the re-resolve sees the successor
            # even if its publisher died pre-flip)
            _time.sleep(0.02 * (attempt + 1))
        raise RuntimeError(
            "append_to_ann_index: could not commit after 16 attempts "
            "(lost every optimistic-commit race, or the pointer "
            "stayed unresolvable); append not committed (no rows "
            "were made visible)"
        )
    finally:
        # on success the stage was renamed away and the batch files
        # live on as links inside the published generation — these
        # only drop the staging names
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(batch_dir, ignore_errors=True)


def delete_from_ann_index(spark: SparkSession, path: str, ids: DataFrame) -> None:
    """Tombstone deletion — the takedown/GDPR path of the index
    lifecycle: append the doomed `vec_id`s as a parquet delete file
    under `path`/tombstones (O(|delete batch|) — no table rewrite, no
    touched cells), exactly the merge-on-read delete-file pattern of
    Iceberg/Delta. Serving anti-joins the tombstone set map-side
    (broadcast: the set is bounded by the compaction cadence), and the
    next `compact_ann_index` purges the rows physically and clears the
    tombstones. At 100 TB a delete is therefore a metadata-sized write
    at request time plus a ride on the already-scheduled OPTIMIZE
    rewrite — never a synchronous scan of the corpus."""
    import os

    cols = [F.col("vec_id").cast("long")]
    if "cell" in ids.columns:
        # carry the partition like Iceberg's delete files do (r14):
        # the incremental compactor then discovers tombstoned cells
        # from this metadata instead of scanning the table
        cols.append(F.col("cell").cast("long"))
    ids.select(*cols).coalesce(1).write.mode("append").parquet(
        os.path.join(path, "tombstones")
    )


def _tombstone_files(path: str) -> list[str]:
    """The index's PENDING delete files, snapshot at call time —
    files already cleared by a completed purge (they carry a
    `.cleared` marker, see _clear_tombstone_files) are excluded, so a
    row re-appended after its takedown purged+cleared is never hidden
    by a stale delete file. Compactors operate on THIS list and clear
    exactly these files afterwards, so a delete landing
    mid-compaction — which the pass did not purge — survives the
    clear instead of being silently dropped (r15)."""
    import glob as globmod
    import os

    local = path[len("file://"):] if path.startswith("file://") else path
    return sorted(
        f
        for f in globmod.glob(
            os.path.join(
                globmod.escape(local.rstrip("/")), "tombstones", "*.parquet"
            )
        )
        if not os.path.exists(f + ".cleared")
    )


def _clear_tombstone_files(path: str, files: list[str]) -> None:
    """Retire exactly the snapshot delete files a completed purge
    folded in (newer delete files stay pending). Retirement is
    RETENTION-AGED, not immediate (r16 — the r15 ADVICE race): a
    serve in flight snapshotted its tombstone file list at DataFrame
    creation, so os.remove'ing the bytes here would hand it
    FAILED_READ_FILE mid-scan — the same reader-vs-rewriter race the
    generation layout closes for data files. Instead each cleared
    file gets a `.cleared` marker (idempotent O_CREAT — new
    _tombstone_files snapshots skip it immediately), and the bytes
    are physically removed only once the marker is older than
    ANN_GEN_RETENTION_SECS (the sweep below + every expiry pass), the
    same floor that keeps superseded generations readable. The dir
    itself goes when nothing pending or unexpired remains."""
    import os

    for f in files:
        if os.path.exists(f):
            try:
                with open(f + ".cleared", "x"):
                    pass
            except OSError:
                pass  # already marked (a concurrent clear) — fine
    _sweep_cleared_tombstones(path)


def _sweep_cleared_tombstones(
    path: str, max_age_secs: float | None = None
) -> None:
    """Physically remove cleared delete files whose marker has aged
    past the retention floor; drop the tombstones dir when no pending
    file and no unexpired cleared file remains (Spark's _SUCCESS/.crc
    markers don't keep it alive)."""
    import glob as globmod
    import os
    import shutil
    import time as _time

    local = path[len("file://"):] if path.startswith("file://") else path
    tomb_dir = os.path.join(local.rstrip("/"), "tombstones")
    if not os.path.isdir(tomb_dir):
        return
    age_floor = (
        ANN_GEN_RETENTION_SECS if max_age_secs is None else max_age_secs
    )
    now = _time.time()
    unexpired = 0
    for m in globmod.glob(
        os.path.join(globmod.escape(tomb_dir), "*.parquet.cleared")
    ):
        try:
            if now - os.path.getmtime(m) >= age_floor:
                for g in (m[: -len(".cleared")], m):
                    try:
                        os.remove(g)
                    except OSError:
                        pass
            else:
                unexpired += 1
        except OSError:
            unexpired += 1
    if not unexpired and not _tombstone_files(path):
        shutil.rmtree(tomb_dir, ignore_errors=True)


def _read_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The index's pending delete set, or None when there is none.
    Reads the explicit pending-file list (never the directory) so
    retired-but-retained delete files stay invisible (r16)."""
    files = _tombstone_files(path)
    if not files:
        return None
    return spark.read.parquet(*files)


def _minus_tombstones(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    """df with tombstoned vec_ids dropped (broadcast anti-join — the
    merge-on-read side of delete_from_ann_index); identity when the
    index has no pending deletes, so tombstone-free serving keeps its
    exact r12 plan."""
    tombs = _read_tombstones(spark, path)
    if tombs is None:
        return df
    return df.join(
        F.broadcast(tombs.select("vec_id")), "vec_id", "left_anti"
    )


def serve_ann_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    candidate_filter: Column | None = None,
    k: int = TOP_K,
    generation: int | None = None,
    n_probe: int = 2,
) -> DataFrame:
    """Corpus-free ANN serving — the deploy-facing API: given ONLY a
    persisted index directory and a (query_id, qv, qnorm) query frame,
    run the exact IVF-PQ serve chain. Model state comes from the
    sidecar, candidate codes and the survivor re-rank vectors from the
    index table (both minus any pending tombstones); the training
    corpus is never touched (pytest proves it by serving after the
    corpus files are moved away).

    `candidate_filter` is the filtered-vector-search hook (r13): a
    boolean Column over the index table's attribute columns (v4
    persists `label`) applied to the CANDIDATE side before scoring —
    query rows stay unrestricted, and the survivor re-fetch needs no
    filter because survivors are drawn from the filtered pool. The
    predicate evaluates inside the index scan stage, after partition
    pruning to the probed cells, so a filtered serve reads exactly the
    same partitions as an unfiltered one and drops rows map-side —
    never a second pass over the corpus (the attribute lives IN the
    index, the Qdrant/Vespa filtered-ANN layout).

    ``k`` (r14) sizes the serve to what the caller consumes — see
    _ivfpq_serve; the default keeps every existing entry's exact
    plan.

    ``generation`` (r15) is the TIME-TRAVEL hook: serve any published
    generation still inside the retention window (see
    ann_index_generations) — the Iceberg `VERSION AS OF` analogue.
    Pending tombstones apply to EVERY generation (a takedown in
    progress is never servable through time travel); rows already
    physically purged remain readable in pre-purge generations until
    _gc_generations expires them, exactly Iceberg's expire_snapshots
    contract for completing a GDPR erasure.

    Snapshot-consistency ordering (r15): tombstones are read BEFORE
    the generation pointer is resolved, and both index scans share
    the one resolved dir. With clears always happening after the
    purged generation's pointer flip, every interleaving with a
    concurrent compactor then serves correct rows: a tombstone set
    captured pre-clear anti-joins already-purged ids (a no-op), and a
    post-flip pointer read serves the purged generation outright."""
    _cb, model, _pq = _sidecar_model(spark, path)
    tombs = _read_tombstones(spark, path)
    gen_dir = _ann_data_dir(path, generation)

    def _anti(df: DataFrame) -> DataFrame:
        if tombs is None:
            return df
        return df.join(
            F.broadcast(tombs.select("vec_id")), "vec_id", "left_anti"
        )

    from ..catalog import read_parquet_fast

    table = read_parquet_fast(spark, gen_dir)
    cand = _read_ann_index(
        spark, path, with_label=candidate_filter is not None,
        data_dir=gen_dir, table=table,
    )
    if candidate_filter is not None:
        cand = cand.filter(candidate_filter).drop("label")
    return _ivfpq_serve(
        spark,
        queries,
        _anti(cand),
        model,
        vectors=_anti(
            _read_ann_vectors(spark, path, data_dir=gen_dir, table=table)
        ),
        k=k,
        n_probe=n_probe,
    )


def sim_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index BUILD as a certified entry: materialize the IVF-PQ
    index table and return its content — (vec_id, cell, pq_code), every
    column exact-integer deterministic, so the oracle re-derives the
    whole index (cells + argmin codes + base-PQ_K packing) in SQL and
    the entry is fully hash-checked. vnorm stays in the table for the
    serve half but out of the certified projection (float column;
    the cos_sim values that depend on it are certified through
    sim_index_query/sim_topk_ivfpq instead). Reference parity: the
    lakehouse slot (B2's write-once/serve-many shape) applied to the
    ANN family — driver-contract Part C."""
    return _read_ann_index(spark, build_ann_index(spark, sf_dir)).select(
        "vec_id", "cell", "pq_code"
    )


def sim_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k SERVED from the persisted index: the index table
    supplies candidate codes AND the survivor re-rank vectors, the
    sidecar supplies the frozen model — no cell assignment, no code
    computation, no codebook re-training, no corpus scan beyond the
    query rows (r13: fully self-contained serving; plan-pinned by
    tests/test_plans.py), then the exact sim_topk_ivfpq candidate ->
    survivor -> re-rank chain. Shares sim_topk_ivfpq's oracle verbatim:
    given the same index state the results are identical, and both are
    fully hash-checked. Builds on miss, so the entry is
    self-sufficient on a fresh corpus dir."""
    path = build_ann_index(spark, sf_dir)
    queries, _ = _queries_and_corpus(spark, sf_dir)
    return serve_ann_index(spark, path, queries)


def sim_index_query_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-then-serve: the compaction pass certified through the
    driver (r12 verdict item 3 — content preservation was previously
    pytest-only). The starting table is the "frag" index variant —
    bit-identical CONTENT to the full index but written as two appends
    so cells hold multiple files (the state a long-running
    stream_live_index_append leaves behind); every call runs a real
    `compact_ann_index` rewrite-and-swap over it, then serves the
    exact chain from the compacted table. Shares sim_topk_ivfpq's
    oracle verbatim — a compaction that dropped, duplicated, or
    re-coded a single row would hash-diverge."""
    path = build_ann_index(spark, sf_dir, variant="frag")
    compact_ann_index(spark, path)
    queries, _ = _queries_and_corpus(spark, sf_dir)
    return serve_ann_index(spark, path, queries)


def sim_index_query_compacted_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL OPTIMIZE-then-serve — the compaction pass a
    production table actually schedules (r14). The starting table is
    the "fragcell" variant: full-corpus content where only the cells
    the ~1% vec_id % 100 == 7 append slice landed in hold two files —
    the state a mostly-compacted table is in after one day's append.
    `compact_ann_index_incremental` rewrites ONLY those cells (cost
    proportional to the fragmented data, never the table — the Delta
    OPTIMIZE / Iceberg rewrite_data_files selection rule; at sf0.01
    that is ~5 of ~23 cells, at sf10 ~180 of ~447) and the serve runs
    the exact chain over the result. Shares sim_topk_ivfpq's oracle
    verbatim — an incremental pass that dropped, duplicated, or
    re-coded a single row in EITHER the rewritten or the untouched
    cells would hash-diverge; the untouched-bytes property is
    pytest-pinned by file mtime identity
    (test_incremental_compaction_selective). Reference parity: none —
    driver-contract Part C ANN index day-2 family."""
    path = build_ann_index(spark, sf_dir, variant="fragcell")
    compact_ann_index_incremental(spark, path)
    queries, _ = _queries_and_corpus(spark, sf_dir)
    return serve_ann_index(spark, path, queries)


#: the deletion entry's doomed slice: ~10% of the corpus, disjoint
#: from the query set (vec_id % 100 == 0 ends in 0, never 3) and
#: distinct from the append slice (7) so the lifecycle entries compose
DELETED_SLICE_MOD = 3


def sim_index_query_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve AFTER takedown deletes — the remaining index-lifecycle
    transition certified through the driver: ~10% of the indexed
    vectors (vec_id % 10 = 3) are tombstoned via
    `delete_from_ann_index` (an O(|batch|) delete-file append, the
    Iceberg/Delta merge-on-read shape — no table rewrite at request
    time), and the serve chain anti-joins the tombstone set map-side,
    so deleted vectors can never be returned as neighbors while the
    frozen model (trained before the deletes) keeps serving. The
    oracle is sim_topk_ivfpq's with the deleted slice excluded from
    the CANDIDATE pool only — a tombstone that leaked into results, or
    a filter that dropped a live row, would hash-diverge. The ids come
    from the index table itself (serving stays corpus-free); the next
    compaction purges them physically (pytest-pinned)."""
    path = build_ann_index(spark, sf_dir, variant="del")
    if _read_tombstones(spark, path) is None:
        delete_from_ann_index(
            spark,
            path,
            _read_ann_index(spark, path)
            .filter(F.col("vec_id") % 10 == DELETED_SLICE_MOD)
            .select("vec_id", "cell"),
        )
    queries, _ = _queries_and_corpus(spark, sf_dir)
    return serve_ann_index(spark, path, queries)


def _tt_lifecycle(spark: SparkSession, sf_dir: str) -> tuple[str, list[int]]:
    """The "tt" variant's one-time lifecycle: build (generation 1),
    tombstone the vec_id % 10 = 3 slice, physically purge it via
    incremental compaction (publishes generation 2, clears the delete
    files). Idempotent: a table that already carries both generations
    is returned as-is. Shared by sim_index_time_travel and
    sim_index_generation_diff — the two entries certify two different
    reads of the SAME history."""
    path = build_ann_index(spark, sf_dir, variant="tt")
    gens = ann_index_generations(path)
    if len(gens) == 1:
        if _read_tombstones(spark, path) is None:
            delete_from_ann_index(
                spark,
                path,
                _read_ann_index(spark, path)
                .filter(F.col("vec_id") % 10 == DELETED_SLICE_MOD)
                .select("vec_id", "cell"),
            )
        compact_ann_index_incremental(spark, path)
        gens = ann_index_generations(path)
    return path, gens


def diff_ann_index_generations(
    spark: SparkSession, path: str, old_gen: int, new_gen: int
) -> DataFrame:
    """AUDIT DIFF between two retained generations — "what did that
    compaction/takedown actually change?", the question a data-removal
    attestation or an incident review asks of a 100 TB table. Returns
    one row per changed index entry: (change ∈ {removed, added},
    vec_id, cell, pq_code).

    Scale design — the scan is pruned to PHYSICALLY CHANGED cells
    before any Spark job runs: the v7 layout hard-links unchanged
    cells' files across generations, so a cell whose file list
    (name, size, mtime_ns) is identical in both generations provably
    holds identical rows and is skipped driver-side (the same
    metadata-over-data trick Iceberg's manifest diff uses). Only the
    differing cells' partitions are read (partition-pruned isin on
    the directory-encoded cell), and the row-level diff is a pair of
    anti-joins on vec_id within that pruned slice. A takedown that
    touched 3 of 40 000 cells costs 3 cells of I/O, not a table scan."""
    import os

    old_dir = _ann_data_dir(path, old_gen)
    new_dir = _ann_data_dir(path, new_gen)

    def cell_sig(d: str) -> dict[str, str]:
        return {
            cd: stat_fingerprint(os.path.join(d, cd), capped=False)
            for cd in os.listdir(d)
            if cd.startswith("cell=")
        }

    a_sig, b_sig = cell_sig(old_dir), cell_sig(new_dir)
    changed = sorted(
        int(cd.split("=", 1)[1])
        for cd in set(a_sig) | set(b_sig)
        if a_sig.get(cd) != b_sig.get(cd)
    )
    cols = ["vec_id", "cell", "pq_code"]

    def read_changed(d: str) -> DataFrame:
        df = _read_ann_index(spark, path, data_dir=d).select(*cols)
        return df.filter(F.col("cell").isin(changed))

    a, b = read_changed(old_dir), read_changed(new_dir)
    removed = a.join(b.select("vec_id"), "vec_id", "left_anti").select(
        F.lit("removed").alias("change"), *cols
    )
    added = b.join(a.select("vec_id"), "vec_id", "left_anti").select(
        F.lit("added").alias("change"), *cols
    )
    return removed.unionAll(added)


def sim_index_generation_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation diff as a certified entry: after the "tt" variant's
    takedown lifecycle (build = gen 1, tombstone + purge = gen 2), the
    diff gen1→gen2 must be EXACTLY the taken-down slice, each row
    'removed' with its original cell and PQ code, and nothing 'added'.
    The oracle re-derives the full index table in SQL and filters it
    to the deleted slice — a diff that missed a purged row, leaked an
    untouched one, or scanned/emitted from the wrong generation
    hash-diverges. Scale: see diff_ann_index_generations — the scan
    prunes to physically changed cells via hard-link file identity
    before any data is read. Reference parity: none — driver-contract
    Part C ANN index day-2 family (r15)."""
    path, gens = _tt_lifecycle(spark, sf_dir)
    return diff_ann_index_generations(spark, path, min(gens), max(gens))


def sim_index_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL serve — `VERSION AS OF` over the generation-pointer
    layout (r15, new §2 row): the index's own history answers "what
    did the table serve BEFORE the takedown?". The "tt" variant
    builds as generation 1 (full corpus), then a one-time lifecycle
    mutation tombstones the vec_id % 10 = 3 slice and physically
    purges it via `compact_ann_index_incremental`, publishing
    generation 2 (the current, purged table) and clearing the delete
    files. The entry serves AS OF generation 1 — the pre-takedown
    snapshot, readable because _gc_generations retains it — and so
    must hash-match the FULL-corpus serve oracle (sim_index_query's,
    verbatim) while the pointer's current generation would not: a
    time-travel resolve that leaked through to the current
    generation, or a purge that mutated the retained snapshot's
    bytes, hash-diverges. Semantics match Iceberg: pending tombstones
    mask every generation (takedowns are never servable mid-flight);
    a COMPLETED purge's rows stay readable in pre-purge snapshots
    until snapshot expiry removes them (the documented final step of
    a GDPR erasure). Reference parity: none — driver-contract Part C
    ANN index day-2 family."""
    path, gens = _tt_lifecycle(spark, sf_dir)
    queries, _ = _queries_and_corpus(spark, sf_dir)
    return serve_ann_index(spark, path, queries, generation=min(gens))


def _index_table_sql(
    src: str = "embeddings", assign_src: str = "embeddings"
) -> str:
    """The (vec_id, cell, pq_code) index-table oracle: the shared index
    CTEs plus the PQ code chain, packed base-PQ_K exactly like the
    Spark side (POWER(PQ_K, PQ_M-1-s) is exact in a double up to 16^7).
    `src` trains both codebooks, `assign_src` is the relation whose
    rows get indexed — defaults render sim_index_build's full-corpus
    oracle; the frozen-model append passes the historical/arriving
    slices (the whole build/append oracle pair is this one function,
    r12 simplify pass).

    r14 allocator-hygiene restructure (the r13 harness-death root
    cause, diagnosed this round): each subspace slice is materialized
    ONCE into a column (esub/psub) instead of re-sliced inside every
    expression reference — the unrolled 8-dim distance referenced its
    two list_slice args 32 times per row, and the resulting jemalloc
    extent churn drove the ORACLE PROCESS's memory-map count into
    vm.max_map_count (65530), where a failed mmap surfaces as
    DuckDB's 'Failed to allocate block of N bytes (bad allocation)'
    and py4j's 'can't start new thread' at ~1 GB RSS on a 126-GB-free
    host — the exact r13 driver-window death signature, reproduced
    and then eliminated locally (maps 53-64k -> bounded; see
    BASELINE r14). Same slices, same IEEE comparisons — every
    certified hash is unchanged."""
    from ..functions.vector import sql_dist_double

    return f"""
WITH {_ivf_index_ctes(src=src, assign_src=assign_src)},
pqc AS (
  SELECT r.rp - 1 AS p, e.embedding AS cv
  FROM (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rp FROM {src}
  ) r JOIN embeddings e ON e.vec_id = r.vec_id
  WHERE r.rp <= {PQ_K}
),
subsp AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s),
esub AS (
  SELECT c.vec_id, g.s,
         list_slice(e.embedding::DOUBLE[], g.s*8+1, g.s*8+8) AS ev
  FROM corpus_cells c JOIN embeddings e ON e.vec_id = c.vec_id, subsp g
),
psub AS (
  SELECT p.p, g.s,
         list_slice(p.cv::DOUBLE[], g.s*8+1, g.s*8+8) AS pv
  FROM pqc p, subsp g
),
codes AS (
  SELECT vec_id, s, p AS code FROM (
    SELECT vec_id, s, p,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id, s ORDER BY dist ASC, p ASC
           ) AS rk
    FROM (
      SELECT e.vec_id, e.s, p.p,
             {sql_dist_double('e.ev', 'p.pv', PQ_DSUB)} AS dist
      FROM esub e JOIN psub p ON p.s = e.s
    ) d
  ) WHERE rk = 1
)
SELECT e.vec_id, e.cell,
       SUM(k.code * CAST(POWER({PQ_K}, {PQ_M - 1} - k.s) AS BIGINT))::BIGINT
         AS pq_code
FROM corpus_cells e JOIN codes k ON k.vec_id = e.vec_id
GROUP BY e.vec_id, e.cell
"""


def sim_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index append with a FROZEN model (the production
    steady state: new corpus batches arrive, the index model does NOT
    retrain per batch): the arriving batch is every vec_id ending in 7
    (~10%, the dedup_incremental_batch convention standing in for
    "today's vectors"); the IVF codebook AND PQ codebook are derived
    from the HISTORICAL corpus only, and the batch rows get their cell
    + packed PQ code assigned map-side against those frozen broadcast
    codebooks — one scan of the batch, no shuffle, no pair space.
    Output is the index DELTA (vec_id, cell, pq_code): exactly the
    frame a deploy run hands to
    `.write.mode("append").partitionBy("cell")` on the persisted
    table (cells only ever gain files — no rewrite of historical
    partitions). Fully hash-checked: the oracle re-derives the frozen
    codebooks from the historical slice and assigns the batch slice
    with them. At 100 TB the append costs O(|batch|) assignment flops
    + one partitioned write; a periodic full rebuild (sim_index_build)
    absorbs model drift. Reference parity: none — driver-contract
    Part C ANN family.

    r13: the frozen model is LOADED from the historical index's
    sidecar (`build_ann_index(variant="hist")` — the pre-existing
    table a production append targets, built/cached once), not
    re-derived from the historical corpus per run — appending, like
    serving, needs only the index directory plus the arriving rows.
    The sidecar model is bit-identical to the corpus derivation
    (pytest-pinned), so the oracle — which re-derives the frozen
    codebooks from the historical slice in SQL — is unchanged."""
    _, corpus = _queries_and_corpus(spark, sf_dir)
    batch = corpus.filter(F.col("vec_id") % 10 == 7)
    hist_path = build_ann_index(spark, sf_dir, variant="hist")
    cb, _pqcb, pq_py = _sidecar_model(spark, hist_path)
    return _coded_frame(cb, pq_py, batch, ["vec_id", "cell"]).select(
        "vec_id", "cell", "pq_code"
    )


def _sim_index_append_sql() -> str:
    """Oracle for sim_index_append: the shared index-table oracle with
    the codebook base restricted to the historical slice (the frozen
    model, pqc included) and assignment over the arriving batch."""
    return _index_table_sql(
        src="(SELECT * FROM embeddings WHERE vec_id % 10 <> 7)",
        assign_src="(SELECT * FROM embeddings WHERE vec_id % 10 = 7)",
    )


QUERIES["sim_index_build"] = sim_index_build
ORACLES["sim_index_build"] = _index_table_sql()
QUERIES["sim_index_query"] = sim_index_query
ORACLES["sim_index_query"] = _sim_ivfpq_sql()
QUERIES["sim_index_query_compacted"] = sim_index_query_compacted
ORACLES["sim_index_query_compacted"] = _sim_ivfpq_sql()
QUERIES["sim_index_query_compacted_incremental"] = (
    sim_index_query_compacted_incremental
)
ORACLES["sim_index_query_compacted_incremental"] = _sim_ivfpq_sql()
QUERIES["sim_index_query_deleted"] = sim_index_query_deleted
ORACLES["sim_index_query_deleted"] = _sim_ivfpq_sql(
    f"c.vec_id % 10 <> {DELETED_SLICE_MOD}"
)
# the pre-takedown snapshot must equal the FULL-corpus serve — the
# time-travel entry shares sim_index_query's oracle verbatim
QUERIES["sim_index_time_travel"] = sim_index_time_travel
ORACLES["sim_index_time_travel"] = _sim_ivfpq_sql()
# the gen1→gen2 diff is exactly the taken-down slice of the full
# index table, every row 'removed', nothing 'added'
QUERIES["sim_index_generation_diff"] = sim_index_generation_diff
ORACLES["sim_index_generation_diff"] = f"""
SELECT 'removed' AS change, vec_id, cell, pq_code
FROM ({_index_table_sql()}) t
WHERE vec_id % 10 = {DELETED_SLICE_MOD}
"""
#: the filtered entry's candidate predicate: labels 0-2, ~29% of the
#: corpus — selective enough that the filter visibly reshapes results,
#: wide enough that probed cells still hold candidates
FILTERED_LABEL_MAX = 3


def sim_index_query_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search from the persisted index — the other
    half of production ANN serving (every real retrieval stack serves
    "top-k among documents matching a metadata predicate": language,
    license, freshness, tenant). The v4 index table persists the
    `label` attribute next to the PQ codes, so the predicate
    (label < 3, ~29% of candidates) evaluates INSIDE the
    partition-pruned index scan: same probed cells as an unfiltered
    serve, rows dropped map-side before scoring, no corpus pass and no
    post-hoc re-query loop. Query vectors stay unrestricted — the
    filter constrains what may be RETURNED, not who may ask; queries
    whose probed cells hold fewer than K matching candidates return
    fewer rows, exactly like the oracle. The oracle is
    sim_topk_ivfpq's with the complement slice excluded from the
    candidate pool only — an over- or under-applied filter
    hash-diverges. Reference parity: none — driver-contract Part C
    ANN family."""
    path = build_ann_index(spark, sf_dir)
    queries, _ = _queries_and_corpus(spark, sf_dir)
    return serve_ann_index(
        spark,
        path,
        queries,
        candidate_filter=F.col("label") < FILTERED_LABEL_MAX,
    )


def sim_index_recall_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index QUALITY monitoring: per-query recall@k of the persisted
    IVF-PQ serve chain against the exact brute-force top-k, over the
    standing 1% query sample — the number a production index owner
    watches to decide when nprobe, k, or the codebook need retraining.
    recall@k = |approx top-k ∩ exact top-k| / k, one row per query
    (the distribution matters, not just the mean: a healthy average
    can hide a dead cell's zero-recall queries). Both sides are
    certified entries already (sim_index_query / sim_topk_bruteforce);
    this entry certifies their COMPOSITION, so the oracle is their two
    SQL bodies joined. Scale: the exact side is quadratic in
    (sample x corpus) BY DESIGN — recall estimation always pays exact
    search on a sample; the knob is the sample size (here the standing
    1%), never the corpus. The top-k sets are k x |sample| rows — the
    join and the group-by are driver-trivial at any corpus size."""
    path = build_ann_index(spark, sf_dir)
    queries, _ = _queries_and_corpus(spark, sf_dir)
    approx = serve_ann_index(spark, path, queries).select(
        "query_id", "neighbor_id"
    )
    exact = sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        approx.join(F.broadcast(exact), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(F.count("hit") / F.lit(float(TOP_K)), 6).alias(
                "recall_at_k"
            )
        )
    )


def _sim_recall_sql() -> str:
    """Oracle for sim_index_recall_estimate: the ivfpq and brute-force
    oracle bodies as subqueries (DuckDB allows WITH inside a
    parenthesized subquery), left-joined so zero-overlap queries still
    produce a 0.0 row. r14: each side projects only the
    (query_id, neighbor_id) pair the recall join consumes — the
    rank/cos_sim columns of both bodies never leave their subquery
    (smaller intermediates; the r13 harness-OOM item)."""
    return f"""
WITH approx AS (SELECT query_id, neighbor_id FROM ({_sim_ivfpq_sql()}) ap),
ex AS (SELECT query_id, neighbor_id FROM ({SIM_TOPK_SQL}) bf)
SELECT a.query_id,
       ROUND(COUNT(e.neighbor_id) / CAST({TOP_K} AS DOUBLE), 6)
         AS recall_at_k
FROM approx a LEFT JOIN ex e
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY a.query_id
"""


def sim_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index LAYOUT monitoring: cell-population statistics of the
    persisted table — count/min/max/avg cell size plus the balance
    skew (max/avg), the one-row health readout that schedules
    retraining and compaction. At 100 TB cell balance IS serve tail
    latency: candidates per query scale with the PROBED cells'
    population, so a skewed cell (balance_skew >> 1) makes every query
    that probes it pay its whole list — the monitoring loop watches
    this number and retrains the codebook (or splits hot cells) when
    it drifts. The scan reads zero data columns (cell is the partition
    directory), the per-cell count is a partial agg, and the final
    rollup is k rows — the whole entry is metadata-priced. Oracle:
    the index-table oracle aggregated the same way, so a build that
    misplaced a single row into the wrong cell hash-diverges."""
    path = build_ann_index(spark, sf_dir)
    per_cell = (
        _read_ann_index(spark, path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_cell.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n").alias("n_vectors"),
        F.min("n").alias("min_cell"),
        F.max("n").alias("max_cell"),
        drnd(F.avg("n"), "avg_cell", 6),
        drnd(F.max("n") / F.avg("n"), "balance_skew", 6),
    )


def _sim_index_stats_sql() -> str:
    """Oracle for sim_index_stats: the shared index-table oracle rolled
    up to the same one-row summary (SUM over BIGINT widens to HUGEINT
    in DuckDB — cast back)."""
    return f"""
WITH idx AS (SELECT * FROM ({_index_table_sql()}) t),
per_cell AS (SELECT cell, COUNT(*) AS n FROM idx GROUP BY cell)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n) AS BIGINT) AS n_vectors,
       CAST(MIN(n) AS BIGINT) AS min_cell,
       CAST(MAX(n) AS BIGINT) AS max_cell,
       CAST(ROUND(CAST(AVG(n) AS DECIMAL(38,10)), 6) AS DOUBLE)
         AS avg_cell,
       CAST(ROUND(CAST(MAX(n) / AVG(n) AS DECIMAL(38,10)), 6) AS DOUBLE)
         AS balance_skew
FROM per_cell
"""


QUERIES["sim_index_append"] = sim_index_append
ORACLES["sim_index_append"] = _sim_index_append_sql()
#: SQL text of the historical / arriving corpus slices (the standing
#: vec_id % 10 = 7 arriving-batch convention) — the ingestion-gate and
#: drift-monitor oracles re-target the shared index SQL onto these
_HIST_SRC = "(SELECT * FROM embeddings WHERE vec_id % 10 <> 7)"
_ARRIVING_SRC = "(SELECT * FROM embeddings WHERE vec_id % 10 = 7)"

#: nearest-indexed-neighbor cosine above which an arriving vector is
#: flagged as a near-duplicate of already-indexed data (median of the
#: rank-1 distribution on this corpus — a meaningful split either way;
#: deploy tunes this against labeled dup pairs)
GATE_DUP_THRESHOLD = 0.3


def dedup_online_index_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE near-dup ingestion gate against the persisted index —
    the production "dedup before append" flow of a training-data
    pipeline: every ARRIVING vector (the standing vec_id % 10 = 7
    batch) is looked up in the HISTORICAL index (hist variant — the
    pre-existing table), and its nearest indexed neighbor decides
    whether it enters the corpus (is_dup = cosine >= threshold) or is
    dropped as a near-duplicate of already-ingested data. The lookup
    IS `serve_ann_index` with the batch as the query frame — frozen
    sidecar model, partition-pruned candidate scan, PQ cut, exact
    re-rank — so the gate costs one O(|batch|) index serve, never a
    batch x corpus pair scan (the reason index-backed gating is how
    crawl pipelines dedup at 100 TB: the corpus side is amortized into
    the index build). The serve chain broadcasts the query side
    (~1 KB LUT per query), so the broadcast grows with the batch, not
    the corpus — a deploy run gates arrivals in bounded chunks (the
    micro-batches stream_live_index_append already demonstrates),
    keeping each broadcast at the chunk size. Output: one row per
    gated arrival with its
    nearest indexed neighbor, the exact cosine, and the keep/drop
    flag. Oracle: the ivfpq SQL re-targeted — model + candidates from
    the historical slice, every arriving row a query — cut to rank 1
    with the same threshold. Reference parity: none — driver-contract
    Part C dedup x ANN-family composition.

    r14 A/B, REFUTED (the r13 ADVICE k=1 suggestion): serving the
    gate at k=1 shrinks the PQ survivor pool 30 -> 21, and the pool
    is a RECALL margin, not an output size — measured at sf0.001,
    5/50 arrivals flipped to a worse nearest neighbor and one true
    near-dup (exact cos 0.3099 >= the 0.3 threshold, PQ rank 22-30)
    was admitted into the corpus; at sf10 the serve cost was PARITY
    (60.0 s vs the r13 55-62.6 s) because the gate is candidate-scan
    bound, so k=1 bought a measured recall loss for nothing. The gate
    therefore serves the full k=10 margin and takes rank 1 from it;
    the k parameter stays on serve_ann_index for callers whose
    latency/recall tradeoff differs (BASELINE §29)."""
    hist_path = build_ann_index(spark, sf_dir, variant="hist")
    _, corpus = _queries_and_corpus(spark, sf_dir)
    arriving = corpus.filter(F.col("vec_id") % 10 == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vnorm").alias("qnorm"),
    )
    nn = serve_ann_index(spark, hist_path, arriving).filter(
        F.col("rank") == 1
    )
    return nn.select(
        F.col("query_id").alias("vec_id"),
        F.col("neighbor_id").alias("nn_id"),
        "cos_sim",
        (F.col("cos_sim") >= GATE_DUP_THRESHOLD).cast("int").alias("is_dup"),
    )


def _online_gate_sql() -> str:
    """Oracle for dedup_online_index_gate: the serve oracle with the
    model/candidate base on the historical slice and the query side on
    the arriving slice, rank-1 row per full-margin serve (the k=1
    rendering is refuted — see the gate docstring), thresholded."""
    body = _sim_ivfpq_sql(
        src=_HIST_SRC, assign_src=_HIST_SRC, query_src=_ARRIVING_SRC
    )
    return f"""
SELECT query_id AS vec_id, neighbor_id AS nn_id, cos_sim,
       CAST(CASE WHEN cos_sim >= {GATE_DUP_THRESHOLD} THEN 1 ELSE 0 END
            AS INTEGER) AS is_dup
FROM ({body}) t WHERE rank = 1
"""


def sim_index_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data DRIFT monitor for the persisted index — the retrain
    trigger a production index owner actually pages on: total
    variation distance between the indexed corpus's cell distribution
    and the arriving batch's cell distribution under the FROZEN model
    (TV = half the L1 gap between the two normalized histograms; 0 =
    arrivals look like the corpus the codebook was trained on, ->1 =
    the embedding distribution moved and the frozen cells no longer
    describe it — time for sim_index_build). Cost is metadata-priced
    at any corpus size: the indexed histogram reads zero data columns
    (cell is the partition directory), the batch histogram is one
    O(|batch|) frozen-model assignment pass, and the TV rollup runs
    over k cells. The L1 sum goes through the parity decimal-sum
    convention (order-independent) with /2 folded per-term (exact
    halving). Oracle: the shared index-table SQL rendered for both
    slices, histogrammed and folded identically."""
    from ..operators.parity import DEC

    hist_path = build_ann_index(spark, sf_dir, variant="hist")
    cb, _pqcb, _pq = _sidecar_model(spark, hist_path)
    _, corpus = _queries_and_corpus(spark, sf_dir)
    arriving = corpus.filter(F.col("vec_id") % 10 == 7)
    assigned = (
        _nearest_cells(cb, arriving, "v", "cell", 1)
        .withColumn("cell", F.coalesce(F.col("cell"), F.lit(-1).cast("long")))
        .filter(F.col("cell") != -1)
    )
    p = (
        _read_ann_index(spark, hist_path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("np"))
    )
    q = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("nq"))
    # barrier: tot AND terms both consume j — without the lazy
    # localCheckpoint the arriving batch's assignment subtree renders
    # (and runs) once per consumer (the distrank/events_user_rfm
    # convention; j is a k-cell metadata frame, so the checkpoint is
    # metadata-priced)
    j = (
        p.join(q, "cell", "full_outer")
        .select(
            F.coalesce("np", F.lit(0).cast("long")).alias("np"),
            F.coalesce("nq", F.lit(0).cast("long")).alias("nq"),
        )
        .localCheckpoint(eager=False)
    )
    tot = j.agg(
        F.sum("np").alias("P"), F.sum("nq").alias("Q")
    )
    terms = j.crossJoin(F.broadcast(tot)).select(
        "P",
        "Q",
        (
            F.abs(F.col("np") / F.col("P") - F.col("nq") / F.col("Q")) / 2
        ).alias("d"),
    )
    return terms.agg(
        F.max("P").alias("n_hist"),
        F.max("Q").alias("n_batch"),
        F.round(F.sum(F.col("d").cast(DEC)), 6)
        .cast("double")
        .alias("tv_distance"),
    )


def _drift_monitor_sql() -> str:
    """Oracle for sim_index_drift_monitor: both cell histograms from
    the shared index-table SQL (frozen model = historical slice),
    full-outer joined, TV-folded with the decimal-sum parity
    convention (SUM over BIGINT widens to HUGEINT in DuckDB — cast).

    r14 allocator-footprint restructure (the r13 harness-OOM item —
    this was the query the driver's window died on): the index chain
    is rendered ONCE with the frozen hist model assigning the WHOLE
    corpus, and BOTH histograms come out of a single conditional
    aggregation over that one pass (per-row cell assignment is row-
    independent, so assigning hist+arriving together is value-
    identical to two passes). Measured A/B at sf0.01 (fresh process
    per variant): two renders 2.2 s / 700 MiB peak; merged CTE
    referenced twice 2.4 s / 780-930 MiB (DuckDB materializes a
    multi-consumer CTE — worse, refuted); one-pass conditional agg
    1.05 s / 675 MiB — half the time, lowest peak, half the SQL
    text. The full-outer join disappears: a cell appears in the
    histogram iff some row assigned there, with zeros per slice from
    the CASE sums — identical TV fold."""
    both = _index_table_sql(src=_HIST_SRC, assign_src="embeddings")
    return f"""
WITH j AS (
  SELECT cell,
         SUM(CASE WHEN vec_id % 10 <> 7 THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END) AS nq
  FROM ({both}) t GROUP BY cell
),
tot AS (SELECT CAST(SUM(np) AS BIGINT) AS "P",
               CAST(SUM(nq) AS BIGINT) AS "Q" FROM j),
terms AS (
  SELECT "P", "Q",
         ABS(CAST(np AS DOUBLE) / "P" - CAST(nq AS DOUBLE) / "Q") / 2 AS d
  FROM j CROSS JOIN tot
)
SELECT MAX("P") AS n_hist, MAX("Q") AS n_batch,
       CAST(ROUND(SUM(CAST(d AS DECIMAL(38,10))), 6) AS DOUBLE)
         AS tv_distance
FROM terms
"""


QUERIES["dedup_online_index_gate"] = dedup_online_index_gate
ORACLES["dedup_online_index_gate"] = _online_gate_sql()
QUERIES["sim_index_drift_monitor"] = sim_index_drift_monitor
ORACLES["sim_index_drift_monitor"] = _drift_monitor_sql()
QUERIES["sim_index_query_filtered"] = sim_index_query_filtered
ORACLES["sim_index_query_filtered"] = _sim_ivfpq_sql(
    f"c.vec_id IN (SELECT vec_id FROM embeddings"
    f" WHERE label < {FILTERED_LABEL_MAX})"
)
QUERIES["sim_index_recall_estimate"] = sim_index_recall_estimate
ORACLES["sim_index_recall_estimate"] = _sim_recall_sql()
QUERIES["sim_index_stats"] = sim_index_stats
ORACLES["sim_index_stats"] = _sim_index_stats_sql()


#: BM25 retrieval parameters (Robertson/Spärck Jones defaults) and the
#: fixed query — terms drawn from the synthetic corpus vocabulary
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("hash", "merge", "scan", "batch", "shuffle")
BM25_TOP_N = 20


def sim_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval — the classic keyword-search twin of the
    embedding top-k family (and the lexical side of a hybrid retriever):
    score every document against a fixed query term set with
    Okapi BM25 (k1=1.2, b=0.75) and return the global top 20 by score.

    Scale design: the corpus-sized work is ONE pass over the token
    stream filtered to the |Q| query terms BEFORE the (doc, term)
    groupBy, so tf is |matching docs| x |Q| rows, df is |Q| rows
    (broadcast), and corpus stats (N, total token count) are a one-row
    broadcast. Per-doc length comes from F.size without an explode.
    The only transcendental, ln in the idf, is computed once per QUERY
    TERM, rounded at 6dp, and the per-(doc, term) contribution is
    immediately quantized to exact micro-score longs (the
    text_lm_perplexity convention), so the per-doc reduction and the
    top-20 ordering are pure integer arithmetic — deterministic on
    both engines. Top-20 is orderBy+limit = TakeOrdered (no global
    window). Reference parity: none (no retrieval surface in the
    reference) — driver-contract Part C similarity family."""
    return _bm25_rank_select(_bm25_per_doc(spark, sf_dir))


def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_terms_hit, score_u) for every document matching
    at least one BM25_QUERY term — the shared core of sim_bm25_topk and
    the RRF hybrid retriever."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: F.length(t) > 0)
    docs = d.select("doc_id", "lang", toks.alias("ts")).select(
        "doc_id", "lang", "ts", F.size("ts").cast("long").alias("dl")
    )
    stats = F.broadcast(
        docs.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_dl"),
        )
    )
    q_terms = list(BM25_QUERY)
    # lang and dl ride the token select (per-doc constants): grouping by
    # them is free and removes both a THIRD corpus scan and a
    # corpus-sized join-back on doc_id (round-10 review finding)
    tok = docs.select(
        "doc_id",
        "lang",
        "dl",
        F.explode(F.filter("ts", lambda t: t.isin(q_terms))).alias("token"),
    )
    tf = tok.groupBy("doc_id", "lang", "dl", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # idf per query TERM: ln(1 + (N - df + 0.5) / (df + 0.5)), the one
    # transcendental — rounded at 6dp before anything multiplies it
    idf6 = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        ),
        6,
    )
    term_w = F.broadcast(
        df_.crossJoin(stats).select("token", "n_docs", "total_dl", idf6.alias("idf6"))
    )
    # rational tf saturation term (pure double arithmetic, identical
    # operation order on both engines): b * dl / avgdl = b * dl * N / T
    tf_factor = (
        F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)
    ) / (
        F.col("tf").cast("double")
        + F.lit(BM25_K1)
        * (
            F.lit(1.0)
            - F.lit(BM25_B)
            + F.lit(BM25_B)
            * F.col("dl").cast("double")
            * F.col("n_docs").cast("double")
            / F.col("total_dl").cast("double")
        )
    )
    contrib_u = (
        F.floor(F.round(F.col("idf6") * tf_factor, 6) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("u")
    )
    scored = tf.join(term_w, "token").select("doc_id", "lang", "token", contrib_u)
    return scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        F.sum("u").alias("score_u"),
    )


def _bm25_rank_select(per_doc: DataFrame) -> DataFrame:
    return (
        per_doc.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_N)
        .select(
            "doc_id",
            "lang",
            "n_terms_hit",
            F.round(
                (F.col("score_u").cast("double") / F.lit(1e6)).cast("decimal(38,10)"),
                6,
            )
            .cast("double")
            .alias("bm25_score"),
        )
    )


def _bm25_chain_sql() -> str:
    """CTE chain (bm_-prefixed names, terminal CTE `bm_per_doc` =
    (doc_id, lang, n_terms_hit, score_u)) — shared by the BM25 oracle
    and the RRF hybrid oracle."""
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""bm_docs AS (
  SELECT doc_id, lang, list_filter(split(text, ' '), x -> len(x) > 0) AS ts
  FROM documents
), bm_dl AS (
  SELECT doc_id, lang, CAST(len(ts) AS BIGINT) AS dl FROM bm_docs
), bm_stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl
  FROM bm_dl
), bm_tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ts) AS token FROM bm_docs)
  WHERE token IN ({terms}) GROUP BY doc_id, token
), bm_df AS (
  SELECT token, COUNT(*) AS df FROM bm_tf GROUP BY token
), bm_term_w AS (
  SELECT token, n_docs, total_dl,
         ROUND(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                        / (CAST(df AS DOUBLE) + 0.5)), 6) AS idf6
  FROM bm_df, bm_stats
), bm_scored AS (
  SELECT tf.doc_id, dl.lang,
    CAST(FLOOR(ROUND(idf6 * ((CAST(tf AS DOUBLE) * {BM25_K1 + 1.0})
      / (CAST(tf AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B}
         * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
         / CAST(total_dl AS DOUBLE)))), 6) * 1000000 + 0.5) AS BIGINT) AS u
  FROM bm_tf tf JOIN bm_term_w USING (token) JOIN bm_dl dl USING (doc_id)
), bm_per_doc AS (
  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
         CAST(SUM(u) AS BIGINT) AS score_u
  FROM bm_scored GROUP BY doc_id, lang
)"""


def _bm25_sql() -> str:
    return f"""
WITH {_bm25_chain_sql()}
SELECT doc_id, lang, n_terms_hit,
       CAST(ROUND(CAST(CAST(score_u AS DOUBLE) / 1000000.0 AS DECIMAL(38,10)), 6)
            AS DOUBLE) AS bm25_score
FROM bm_per_doc
ORDER BY score_u DESC, doc_id ASC
LIMIT {BM25_TOP_N}
"""


QUERIES["sim_bm25_topk"] = sim_bm25_topk
ORACLES["sim_bm25_topk"] = _bm25_sql()


#: RRF fusion constant (the standard k=60 from Cormack et al.) and the
#: per-retriever candidate-list depth fed into fusion
RRF_K = 60
RRF_LIST_N = 60
RRF_TOP_N = 10
#: the semantic query vector: embeddings row vec_id = 0 (deterministic
#: model input; doc_id = vec_id is the corpus's modality-join contract)
RRF_QUERY_VEC_ID = 0


#: candidate-cut safety margin for the two-phase semantic list: the
#: fast IEEE-double cosine and the exact decimal cosine differ by
#: ~1e-13 relative, so a fast-score gap of 1e-9 between the last kept
#: rank and the last candidate guarantees no cut vector can re-rank
#: into the top list. Checked AT RUNTIME (r10 ADVICE, r11 verdict
#: item 6): an adversarial near-tie corpus fails loudly instead of
#: silently returning a wrong list.
RRF_CUT_GAP_TOL = 1e-9


def _semantic_top_list(corpus: DataFrame) -> DataFrame:
    """Top-RRF_LIST_N semantic candidates of `corpus` (vec_id,
    v double-array) for the query vector RRF_QUERY_VEC_ID, returned as
    (vec_id, r_sem) — the guarded two-phase core of sim_hybrid_rrf,
    factored so the near-tie guard is testable on a constructed corpus.

    Two-phase scoring (the sim_topk_bruteforce argument): the cheap
    IEEE-double cosine orders the corpus-wide scan, only the fast
    top (N + 20) pay the order-independent decimal cosine the oracle
    needs, then re-rank exactly. Measured 11.5 s -> ~4 s at sf1.

    The cut is only sound when the fast score at the LIST_N boundary
    clears the last candidate by more than the fast/exact drift — so
    that is now an executed assertion, not a docstring claim: over the
    80-row post-TakeOrdered head (metadata grain), two windows attach
    the boundary scores to every row and `assert_true` raises mid-job
    when a full candidate list is near-tied at the cut. Lives inside
    the same 80-row stage — no second corpus scan.

    Known-conservative corner: a corpus with EXACTLY LIST_N + 20
    non-query rows is fully enumerated (nothing cut, re-rank complete)
    yet indistinguishable post-LIMIT from a larger corpus, so a
    near-tied one raises spuriously — a loud false positive on a safe
    input, never a silent wrong list; distinguishing it would cost a
    corpus-count aggregate the guard deliberately avoids."""
    from ..functions.vector import dot_double

    qv = F.broadcast(
        corpus.filter(F.col("vec_id") == RRF_QUERY_VEC_ID).select(
            F.col("v").alias("qv")
        )
    )
    cos_fast = dot_double(F.col("qv"), F.col("v")) / (
        F.sqrt(dot_double(F.col("v"), F.col("v")))
        * F.sqrt(dot_double(F.col("qv"), F.col("qv")))
    )
    cand = (
        corpus.filter(F.col("vec_id") != RRF_QUERY_VEC_ID)
        .crossJoin(qv)
        .select("vec_id", "v", "qv", cos_fast.alias("cos_fast"))
        .orderBy(F.col("cos_fast").desc(), F.col("vec_id").asc())
        .limit(RRF_LIST_N + 20)
    )
    w_fast = Window.orderBy(F.col("cos_fast").desc(), F.col("vec_id").asc())
    w_all = Window.partitionBy()
    ranked = cand.select(
        "vec_id",
        "v",
        "qv",
        F.row_number().over(w_fast).alias("r_fast"),
        F.col("cos_fast"),
    ).select(
        "vec_id",
        "v",
        "qv",
        F.max(
            F.when(F.col("r_fast") == RRF_LIST_N, F.col("cos_fast"))
        ).over(w_all).alias("cut_score"),
        F.min(F.col("cos_fast")).over(w_all).alias("tail_score"),
        F.count("*").over(w_all).alias("n_cand"),
    )
    # a short candidate list (< LIST_N + 20) means the corpus was fully
    # enumerated — nothing was cut, nothing to guard
    guarded = ranked.filter(
        F.assert_true(
            (F.col("n_cand") < F.lit(RRF_LIST_N + 20))
            | (
                F.col("cut_score") - F.col("tail_score")
                > F.lit(RRF_CUT_GAP_TOL)
            ),
            F.lit(
                "sim_hybrid_rrf: fast-cosine scores are near-tied at the "
                f"top-{RRF_LIST_N} candidate cut (gap <= {RRF_CUT_GAP_TOL}); "
                "the +20 overfetch cannot guarantee the exact re-rank — "
                "raise the overfetch for this corpus"
            ),
        ).isNull()
    )
    sem = (
        guarded.select("vec_id", cosine(F.col("qv"), F.col("v")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(RRF_LIST_N)
    )
    w_sem = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return sem.select("vec_id", F.row_number().over(w_sem).alias("r_sem"))


def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: fuse the BM25
    lexical candidate list (sim_bm25_topk's per-doc scores over
    BM25_QUERY) with a semantic candidate list (exact decimal cosine
    against the embedding of vec_id 0, doc_id = vec_id per the
    modality-join contract), score = sum over lists of
    1 / (RRF_K + rank), top 10 fused.

    Scale design: each retriever reduces to a top-RRF_LIST_N candidate
    list via orderBy+limit (TakeOrdered — no global window over the
    corpus); ranks are then row_numbered on the post-LIMIT 60-row heads
    (metadata grain, the prep_vocab_topk precedent) and fused by
    union + groupBy(doc_id) with max-aggregation — algebraically
    identical to the oracle's 60x60 FULL OUTER join because doc_ids
    are unique within each row_number head and max over {rank, NULL}
    reproduces the outer join's NULL semantics, while costing ONE
    hash-agg exchange instead of the sort-merge join's two sorted
    exchanges (r18 interleaved A/B: sf1 ~3.6 -> ~2.9 s, sf0.1 neutral,
    rows bit-equal). The lexical side costs one
    filtered token pass; the semantic side one linear decimal-cosine
    scan (the single-query column of sim_topk_bruteforce). 1/(k+r) is
    rational on integer ranks — micro-quantized per term, summed as
    longs, so fusion ordering is exact integer arithmetic on both
    engines. Reference parity: none — driver-contract Part C
    retrieval family."""
    lex = (
        _bm25_per_doc(spark, sf_dir)
        .orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
        .limit(RRF_LIST_N)
    )
    w_lex = Window.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
    lex_ranked = lex.select(
        "doc_id", F.row_number().over(w_lex).alias("r_lex")
    )

    from ..catalog import widen_if_narrow

    # r12: widen the semantic side's own corpus scan (it was the last
    # _queries_and_corpus-style load without the single-row-group
    # compensation; the per-row HOF cosine is the heavy map work)
    e = widen_if_narrow(spark, load_table(spark, sf_dir, "embeddings"))
    corpus = e.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    sem_ranked = _semantic_top_list(corpus).select(
        F.col("vec_id").alias("doc_id"), "r_sem"
    )

    def rrf_u(rank_col):
        return F.when(
            rank_col.isNull(), F.lit(0).cast("long")
        ).otherwise(
            F.floor(
                F.round(F.lit(1.0) / (F.lit(float(RRF_K)) + rank_col.cast("double")), 6)
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long")
        )

    # union + max-agg fusion (see docstring): bit-equal to the full
    # outer join on these unique-doc_id heads, one exchange, no sorts
    unioned = lex_ranked.select(
        "doc_id", F.col("r_lex"), F.lit(None).cast("int").alias("r_sem")
    ).unionByName(
        sem_ranked.select(
            "doc_id", F.lit(None).cast("int").alias("r_lex"), F.col("r_sem")
        )
    )
    fused = (
        unioned.groupBy("doc_id")
        .agg(F.max("r_lex").alias("r_lex"), F.max("r_sem").alias("r_sem"))
        .select(
            "doc_id",
            "r_lex",
            "r_sem",
            (rrf_u(F.col("r_lex")) + rrf_u(F.col("r_sem"))).alias("rrf_u"),
        )
        .orderBy(F.col("rrf_u").desc(), F.col("doc_id").asc())
        .limit(RRF_TOP_N)
    )
    w_f = Window.orderBy(F.col("rrf_u").desc(), F.col("doc_id").asc())
    # absent-from-list ranks render as 0, not NULL: nullable ints decay
    # to float64/NaN through the oracle's pandas bridge (the
    # join_full_outer_nation_activity COALESCE convention)
    return fused.select(
        F.row_number().over(w_f).alias("fused_rank"),
        "doc_id",
        F.coalesce(F.col("r_lex"), F.lit(0)).cast("long").alias("r_lex"),
        F.coalesce(F.col("r_sem"), F.lit(0)).cast("long").alias("r_sem"),
        F.round((F.col("rrf_u").cast("double") / F.lit(1e6)).cast("decimal(38,10)"), 6)
        .cast("double")
        .alias("rrf_score"),
    )


def _rrf_sql() -> str:
    rrf_term = (
        "CAST(FLOOR(ROUND(1.0 / ({k} + CAST({r} AS DOUBLE)), 6) * 1000000 + 0.5)"
        " AS BIGINT)"
    )
    lex_u = rrf_term.format(k=float(RRF_K), r="r_lex")
    sem_u = rrf_term.format(k=float(RRF_K), r="r_sem")
    return f"""
WITH {_bm25_chain_sql()},
lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id ASC) AS r_lex
  FROM bm_per_doc ORDER BY score_u DESC, doc_id ASC LIMIT {RRF_LIST_N}
), sem AS (
  SELECT vec_id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS r_sem
  FROM (
    SELECT c.vec_id,
           {sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
    FROM embeddings c, (SELECT embedding FROM embeddings
                        WHERE vec_id = {RRF_QUERY_VEC_ID}) q
    WHERE c.vec_id <> {RRF_QUERY_VEC_ID}
  ) ORDER BY cos_sim DESC, doc_id ASC LIMIT {RRF_LIST_N}
), fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
         (CASE WHEN r_lex IS NULL THEN 0 ELSE {lex_u} END
          + CASE WHEN r_sem IS NULL THEN 0 ELSE {sem_u} END) AS rrf_u
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
  ORDER BY rrf_u DESC, doc_id ASC LIMIT {RRF_TOP_N}
)
SELECT ROW_NUMBER() OVER (ORDER BY rrf_u DESC, doc_id ASC) AS fused_rank,
       doc_id,
       CAST(COALESCE(r_lex, 0) AS BIGINT) AS r_lex,
       CAST(COALESCE(r_sem, 0) AS BIGINT) AS r_sem,
       CAST(ROUND(CAST(CAST(rrf_u AS DOUBLE) / 1000000.0 AS DECIMAL(38,10)), 6)
            AS DOUBLE) AS rrf_score
FROM fused
"""


QUERIES["sim_hybrid_rrf"] = sim_hybrid_rrf
ORACLES["sim_hybrid_rrf"] = _rrf_sql()
