"""SparkSession factory.

Replaces the reference's configured-but-empty Spark cluster slot
(reference: citibike_project/spark/Dockerfile:2-43,
citibike_project/docker-compose.yaml:78-113 — empty job file
spark-submit/app/my_spark_job.py). One session factory, tuned for
local[N] testing but with every scale-relevant knob set the way a
1000-executor cluster run would want it (AQE, skew-join handling,
partition coalescing, UTC session time).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical RAM in whole GiB, clamped to [4g, 24g] —
    see the spark.driver.memory comment below for the sf10 rationale.
    Falls back to 8g where /proc/meminfo is unavailable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(4, min(24, int(total_gib // 2)))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "data_engineering_zoomcamp_projects_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale posture: AQE enabled so shuffle partition counts and join
    strategies re-plan at runtime from observed sizes (the local
    ``shuffle_partitions`` default is a ceiling, not a schedule);
    skew-join splitting on so a hot key cannot stall a stage; UTC
    session timezone so timestamp semantics are cluster-invariant.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # 2x cores as the pre-AQE ceiling; A/B at sf0.1 showed 32 vs 64
        # within run-to-run noise (AQE coalesces either way), so the
        # default favors headroom at larger scale factors
        shuffle_partitions = int(cpus) * 2

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # RAM-derived default (capped 24g, floored 4g): the round-9
        # sf10 (100x) probe showed 8g starves AQE broadcast builds
        # once a long session accumulates persisted pair memos +
        # per-round flood state ("Not enough memory to build and
        # broadcast" in dedup_cluster_components after 11 prior sf10
        # queries; clean at 24g on the 128 GiB bench box). Deriving
        # from MemTotal instead of hard-coding 24g keeps small hosts
        # from launching a JVM the OS would OOM-kill; deploy clusters
        # size the driver independently.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # plan-audit helpers parse rendered windowspecdefinition args;
        # the default field limit (25) truncates wide expression lists,
        # which would blind the single-partition-window guard
        .config("spark.sql.debug.maxToStringFields", "1000")
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as raw long nanos, the catalog
        # converts to a microsecond timestamp (matching DuckDB's own
        # ns->us truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark, rows, ddl: str):
    """``spark.createDataFrame(rows, ddl)`` as a relation the JVM holds.

    The package's one way to turn driver-side state (a model, a merge
    table) into a DataFrame. A list of rows goes through ``parallelize``
    into a Python RDD, so every execution of the frame, every broadcast
    of it included, starts Python workers for a few KB of rows. The
    same rows as a ``pyarrow.Table`` with the DDL's Arrow schema are
    planned as a ``LocalRelation`` below
    ``spark.sql.execution.arrow.localRelationThreshold`` and kept as
    Arrow batches in the JVM above it: no Python worker runs either
    way. Schema (nullability included) and values (doubles bit for
    bit) are those of the list form."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


#: cap on the fingerprint walk: a directory table with more data files
#: than this is not memoized (every open lists/infers as stock Spark
#: does) instead of paying an O(files) driver-side stat pass per lookup.
#: At deploy scale a manifest-backed format (Iceberg/Delta) replaces
#: the walk outright; sandbox tables sit far below the cap.
_FP_WALK_CAP = 4096

#: one warning per session when a fingerprint is unavailable (a silent
#: no-op hides the memo's absence)
_FP_DEGRADE_LOGGED = False


def stat_fingerprint(path: str, capped: bool = True) -> str | None:
    """(size, mtime_ns) of a file, or the sorted (relative name, size,
    mtime_ns) of every data file under a directory — a directory's own
    stat is no content fingerprint. None past _FP_WALK_CAP files when
    ``capped``; OSError when the path has no local stat."""
    if os.path.isdir(path):
        entries = []
        for root_dir, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.startswith((".", "_")):
                    continue
                if capped and len(entries) >= _FP_WALK_CAP:
                    _warn_unmemoized(path, f"more than {_FP_WALK_CAP} data files")
                    return None
                st = os.stat(os.path.join(root_dir, f))
                rel = os.path.relpath(os.path.join(root_dir, f), path)
                entries.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
        return ";".join(sorted(entries))
    st = os.stat(path)
    return f"{st.st_size}:{st.st_mtime_ns}"


def _warn_unmemoized(path, why: str) -> None:
    global _FP_DEGRADE_LOGGED
    if not _FP_DEGRADE_LOGGED:
        _FP_DEGRADE_LOGGED = True
        import logging

        logging.getLogger(__name__).warning(
            "session memo disabled for %s (%s); state derived from it is "
            "rebuilt on every call",
            path,
            why,
        )


#: the package's one memo of derived session state: slot -> (key,
#: value). A slot holds one entry; insertion order is age, and the
#: oldest slot is evicted first once MEMO_SLOTS are filled.
_MEMO: dict[tuple, tuple] = {}
MEMO_SLOTS = 256
#: slot kind -> [hits, misses]
_MEMO_COUNTS: dict[str, list] = {}


def memo(spark, slot: tuple, build, sources=(), params=()):
    """``build()``, reused while nothing it was derived from changes.

    ``slot[0]`` is the kind the hit/miss counters are kept under; the
    rest of ``slot`` tells apart entries that coexist (a Column memo's
    expression key, a relation's path). The entry is served while its
    key holds: the session's applicationId, the stat_fingerprint of
    each path in ``sources`` (the files the state is derived from) and
    ``params``. Any other key rebuilds, and the replaced entry is
    released. A source without a fingerprint builds unmemoized."""
    counts = _MEMO_COUNTS.setdefault(slot[0], [0, 0])
    try:
        fps = tuple(stat_fingerprint(p) for p in sources)
    except OSError:
        _warn_unmemoized(sources, "no local stat")
        fps = (None,)
    if None in fps:
        counts[1] += 1
        return build()
    key = (spark.sparkContext.applicationId, tuple(sources), fps, params)
    old = _MEMO.get(slot)
    if old is not None and old[0] == key:
        counts[0] += 1
        return old[1]
    counts[1] += 1
    value = build()
    # re-read: a memo call nested in build() may have evicted the slot
    old = _MEMO.pop(slot, None)
    if old is not None:
        _release(old[1])
    elif len(_MEMO) >= MEMO_SLOTS:
        _release(_MEMO.pop(next(iter(_MEMO)))[1])
    _MEMO[slot] = (key, value)
    return value


def _release(value) -> None:
    """Free what an evicted entry held: persisted DataFrames are
    unpersisted, localCheckpointed ones drop their blocks (which
    ``DataFrame.unpersist`` does not reach), broadcasts drop their
    executor copies. Errors are ignored: the entry may belong to a
    stopped application."""
    import contextlib

    from py4j.protocol import Py4JError
    from pyspark import Broadcast
    from pyspark.sql import DataFrame

    if isinstance(value, tuple):
        for v in value:
            _release(v)
        return
    with contextlib.suppress(Py4JError):
        if isinstance(value, Broadcast):
            value.unpersist()
        elif isinstance(value, DataFrame):
            if value.is_cached:
                value.unpersist()
            plan = value._jdf.queryExecution().logical()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                rdd = plan.rdd()
                if rdd.getStorageLevel().isValid():
                    rdd.unpersist(False)


def memo_clear(kind: str | None = None) -> None:
    """Evict (and release) every entry, or every entry of one kind."""
    for slot in [s for s in _MEMO if kind is None or s[0] == kind]:
        _release(_MEMO.pop(slot)[1])


def memo_keys(kind: str) -> list:
    """Keys of the live entries of one kind, oldest first."""
    return [key for slot, (key, _v) in _MEMO.items() if slot[0] == kind]


def memo_stats() -> dict[str, dict[str, int]]:
    """Hit and miss counts per slot kind since the process started."""
    return {k: {"hits": h, "misses": m} for k, (h, m) in _MEMO_COUNTS.items()}
