"""Pins for the package's one session memo (session.memo): the package
keeps no memo of its own outside it, an evicted entry releases what it
held, the slot count is bounded, and no memoized state outlives the
bytes it was derived from."""

from __future__ import annotations

import ast
import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from data_engineering_zoomcamp_projects_spark import session
from data_engineering_zoomcamp_projects_spark.session import (
    memo,
    memo_clear,
    memo_stats,
)

PKG = Path(session.__file__).parent


def _module_empty_dicts(path: Path) -> list[str]:
    """Names a module binds at top level to an empty dict literal."""
    out = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        if isinstance(value, ast.Dict) and not value.keys:
            out += [t.id for t in targets if isinstance(t, ast.Name)]
    return out


def test_no_module_level_memo_dict_outside_the_memo_home():
    """One way to memoize session state: a module-level empty dict is
    a hand-rolled memo. Only session.py, the memo's home, may bind one;
    constant tables are not empty literals and are not flagged."""
    found = {}
    for p in sorted(PKG.rglob("*.py")):
        names = _module_empty_dicts(p)
        if names and p != PKG / "session.py":
            found[str(p.relative_to(PKG))] = names
    assert not found, found
    assert _module_empty_dicts(PKG / "session.py")  # the guard sees its home


def _create_dataframe_calls(path: Path) -> list[tuple[str, int]]:
    """(enclosing top-level function, line) of every ``createDataFrame(``
    call in a module."""
    out = []
    for top in ast.parse(path.read_text()).body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                out.append((owner, node.lineno))
    return out


def test_driver_side_frames_go_through_local_frame():
    """One way to turn driver-side state into a DataFrame:
    session.local_frame, a JVM local relation. ``createDataFrame`` on a
    list of rows builds a Python RDD, and every execution of it (each
    broadcast included) starts Python-worker tasks; only the helper
    itself may call it."""
    found = {}
    for p in sorted(PKG.rglob("*.py")):
        calls = _create_dataframe_calls(p)
        if p == PKG / "session.py":
            assert {owner for owner, _ in calls} == {"local_frame"}, calls
        elif calls:
            found[str(p.relative_to(PKG))] = calls
    assert not found, found


def test_bpe_training_pins_only_its_final_vocab(spark, sf_dir):
    """Each BPE round checkpoints a new vocab frame and releases the
    one it superseded, so one training leaves exactly one checkpointed
    RDD pinned: the vocab it returns."""
    from data_engineering_zoomcamp_projects_spark.llm.textstats import _train_bpe

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    vocab, merges = _train_bpe(spark, sf_dir)
    try:
        assert len(merges) > 1  # more than one round was superseded
        new = set(jsc.getPersistentRDDs().keySet()) - before
        assert new == {vocab._jdf.queryExecution().logical().rdd().id()}
    finally:
        session._release(vocab)


def test_refill_releases_checkpoint_and_counts(spark):
    """A key change in a slot rebuilds and releases the old entry's
    localCheckpoint blocks (DataFrame.unpersist does not reach them);
    the counters record one hit and two misses."""
    memo_clear("test_refill")
    before = memo_stats().get("test_refill", {"hits": 0, "misses": 0})

    def ckpt(n):
        return lambda: spark.range(n).localCheckpoint(eager=True)

    a = memo(spark, ("test_refill",), ckpt(5), params=(1,))
    assert memo(spark, ("test_refill",), ckpt(5), params=(1,)) is a
    b = memo(spark, ("test_refill",), ckpt(6), params=(2,))
    assert b is not a and b.count() == 6
    rdd = a._jdf.queryExecution().logical().rdd()
    assert not rdd.getStorageLevel().isValid()
    after = memo_stats()["test_refill"]
    assert after["hits"] - before["hits"] == 1
    assert after["misses"] - before["misses"] == 2
    memo_clear("test_refill")


def test_slot_count_is_bounded(spark, monkeypatch):
    """Past MEMO_SLOTS the oldest slot is evicted first."""
    monkeypatch.setattr(session, "MEMO_SLOTS", len(session._MEMO) + 1)
    memo(spark, ("test_bound", 1), lambda: 1)
    memo(spark, ("test_bound", 2), lambda: 2)
    assert len(session._MEMO) == session.MEMO_SLOTS
    assert ("test_bound", 2) in session._MEMO
    memo_clear("test_bound")


def _rewrite(path: str, col: str, keep) -> int:
    """Rewrite one parquet file in place with the rows whose ``col``
    values ``keep`` selects; returns the new row count."""
    table = pq.read_table(path)
    table = table.filter(pa.array(keep(table[col].to_numpy())))
    pq.write_table(table, path)
    return table.num_rows


def test_every_memo_rebuilds_after_its_files_change(spark, tmp_path):
    """In one session, rewrite documents, embeddings, orders and
    lineitem under a copy of sf0.001, then call each memoized entry
    again: each records a miss and returns state derived from the new
    bytes."""
    from data_engineering_zoomcamp_projects_spark import ml
    from data_engineering_zoomcamp_projects_spark.catalog import load_table
    from data_engineering_zoomcamp_projects_spark.llm import similarity as sim
    from data_engineering_zoomcamp_projects_spark.llm.dedup import near_dup_pairs
    from data_engineering_zoomcamp_projects_spark.llm.preparation import (
        _bench_bloom_broadcast,
        prep_decontaminate_bloom,
    )
    from data_engineering_zoomcamp_projects_spark.llm.textstats import _bpe_learn
    from data_engineering_zoomcamp_projects_spark.transform import (
        mart_daily_revenue,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("documents", "embeddings", "orders", "lineitem", "customer"):
        shutil.copyfile(f"/root/testdata/sf0.001/{t}.parquet", f"{sf}/{t}.parquet")

    def derived():
        """Every memoized entry over ``sf``, reduced to plain values."""
        pairs = {
            d for r in near_dup_pairs(spark, sf).collect() for d in (r[0], r[1])
        }
        cents = [c for c, _ in ml.kmeans_trained_centroids(spark, sf)]
        sim.sim_topk_ivfpq(spark, sf)  # trains both codebooks + model frame
        cells = sim._ivf_model(spark, sf, None)[1]
        pq_cb = sim._pq_codebook(spark, sf, None)[1]
        prep_decontaminate_bloom(spark, sf)  # builds the bitset
        bits = bytes(_bench_bloom_broadcast(spark, sf, None).value)
        merges = _bpe_learn(spark, sf)[1]
        n_lines = sum(r["n_lines"] for r in mart_daily_revenue(spark, sf).collect())
        orders = load_table(spark, sf, "orders")
        return pairs, cents, cells, pq_cb, bits, merges, n_lines, orders

    kinds = ("pairs", "kmeans", "codebook", "pq", "model_frame", "bloom", "bpe",
             "transform", "relation")
    kmeans_cache = ml._kmeans_cache_path(sf)[0]
    try:
        old = derived()
        assert any(d % 3 == 1 for d in old[0])  # these docs are dropped below
        assert min(old[1]) < 50
        misses = {k: memo_stats()[k]["misses"] for k in kinds}

        # doc_id % 3 == 1 also drops benchmark (source src0) documents
        _rewrite(f"{sf}/documents.parquet", "doc_id", lambda d: d % 3 != 1)
        _rewrite(f"{sf}/embeddings.parquet", "vec_id", lambda v: v >= 50)
        n_orders = _rewrite(f"{sf}/orders.parquet", "o_orderkey", lambda k: k % 2 == 0)
        n_lines = _rewrite(f"{sf}/lineitem.parquet", "l_orderkey", lambda k: k % 2 == 0)
        new = derived()

        missed = {k for k in kinds if memo_stats()[k]["misses"] > misses[k]}
        assert missed == set(kinds)
        pairs, cents, cells, pq_cb, bits, merges, lines, orders = new
        assert pairs and not any(d % 3 == 1 for d in pairs)
        assert min(cents) >= 50
        assert cells != old[2] and pq_cb != old[3]
        assert bits != old[4]
        assert merges != old[5]
        assert lines == n_lines
        assert orders is not old[7] and orders.count() == n_orders
    finally:
        for k in kinds[:-1]:
            memo_clear(k)  # release state derived from the temp copy
        if os.path.exists(kmeans_cache):
            os.remove(kmeans_cache)
