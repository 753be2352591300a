"""Every frame the package builds from driver-side state goes through
session.local_frame. Each converted site must give what
``spark.createDataFrame(rows, ddl)`` gave (schema with nullability,
rows with doubles bit for bit) and be planned as a LocalTableScan, so
executing it starts no Python worker."""

from __future__ import annotations

from data_engineering_zoomcamp_projects_spark.llm import dedup, similarity
from data_engineering_zoomcamp_projects_spark.llm import textstats
from data_engineering_zoomcamp_projects_spark.session import local_frame

# the list-form schemas, as the sites declared them
CELLS_DDL = (
    "cells array<struct<sc_id:bigint,scv:array<double>,"
    "mids:array<bigint>,mvecs:array<array<double>>>>"
)
PQ_DDL = "pq array<array<array<double>>>"
MODEL_DDL = f"{CELLS_DDL}, {PQ_DDL}"
PLANES_DDL = "emb_planes array<array<double>>"
MERGES_DDL = (
    "merge_rank int, left_sym string, right_sym string, "
    "merged string, pair_count long"
)

#: two super-centroids, the second owning no centroid (``mids=[]``);
#: doubles that round-trip only when carried bit for bit
CELLS = [
    (0, [0.1, -1 / 3, 5e-324], [0, 7], [[0.1, -1 / 3, 5e-324], [2.0, 0.0, -0.0]]),
    (9, [1e308, 2 / 3, -0.3], [], []),
]
#: a codebook with fewer than PQ_K centroids per subspace
PQ = [
    [[s + p / 7 for _ in range(similarity.PQ_DSUB)] for p in range(3)]
    for s in range(similarity.PQ_M)
]


def _hex(v):
    """Rows as nested lists, each double as its ``float.hex``."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_hex(x) for x in v]
    return v


def _assert_list_form(spark, df, rows, ddl):
    old = spark.createDataFrame(rows, ddl)
    assert df.schema == old.schema
    assert df._jdf.schema().json() == old._jdf.schema().json()
    assert _hex(df.collect()) == _hex(old.collect())
    plan = df._jdf.queryExecution().executedPlan()
    assert plan.getClass().getSimpleName() == "LocalTableScanExec", plan.toString()


def test_cells_frame_is_the_list_form(spark, sf_dir):
    assert len(PQ[0]) < similarity.PQ_K
    _assert_list_form(
        spark, similarity._cells_frame(spark, CELLS), [(CELLS,)], CELLS_DDL
    )
    _q, corpus = similarity._queries_and_corpus(spark, sf_dir)
    cells = similarity._ivf_model(spark, sf_dir, corpus)[1]
    _assert_list_form(
        spark,
        similarity._cells_frame(spark, cells),
        [([tuple(c) for c in cells],)],
        CELLS_DDL,
    )


def test_pq_frame_is_the_list_form(spark):
    _assert_list_form(spark, similarity._pq_frame(spark, PQ), [(PQ,)], PQ_DDL)


def test_model_frame_is_the_list_form(spark):
    _assert_list_form(
        spark, similarity._model_frame(spark, CELLS, PQ), [(CELLS, PQ)], MODEL_DDL
    )


def test_emb_planes_frame_is_the_list_form(spark):
    planes = similarity._hyperplanes(dedup.EMB_N_BANDS * dedup.EMB_BITS_PER_BAND)
    rows = [([[float(x) for x in p] for p in planes],)]
    _assert_list_form(spark, dedup._emb_planes_frame(spark), rows, PLANES_DDL)


def test_bpe_merge_table_is_the_list_form(spark, sf_dir):
    merges = textstats._bpe_learn(spark, sf_dir)[1]
    assert merges
    df = textstats.text_bpe_learn_merges(spark, sf_dir)
    _assert_list_form(spark, df, merges, MERGES_DDL)


def test_zero_rows_keep_the_schema(spark):
    for ddl in (MERGES_DDL, MODEL_DDL):
        _assert_list_form(spark, local_frame(spark, [], ddl), [], ddl)
