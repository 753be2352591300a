"""Table catalog over the testdata star schema.

The reference materialized one Postgres table per month/year
(reference: citibike_project/etl/ingest_data.py:159, :277 — table-per-
month layout). Spark-first, the catalog is instead a set of named
DataFrames / temp views over columnar files; partition pruning replaces
table-per-period.

``register_tables(spark, sf_dir)`` loads the ten driver-generated
parquet tables and registers each as a temp view so both the DataFrame
API and ``spark.sql`` paths see the same relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import memo, stat_fingerprint

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables bounded in size at any scale factor — always safe to
#: broadcast (region=5, nation=25; supplier/part/customer grow with SF but
#: stay orders of magnitude below the fact tables; Catalyst/AQE decides
#: for those from observed stats, we only hard-broadcast the fixed dims).
FIXED_DIMS = ("region", "nation")


#: one warning per session when the row-group probe degrades (r13
#: ADVICE: the silent no-op hid the whole widen fix on unrecognized
#: URI forms)
_PROBE_DEGRADE_LOGGED = False


class _BenignProbeSkip(Exception):
    """Probe skip that is correct behavior, not a degrade — e.g. a
    multi-relation frame, where a summed row-group count belongs to no
    single scan. Distinct from real failures so it neither logs nor
    consumes the once-per-session degrade-warning slot (r14 review:
    a benign multi-table frame must not silence a later genuine
    degrade)."""


def _table_root(path: str) -> str:
    """Directory of `path` with trailing hive-style partition segments
    (name=value) stripped — the single-RELATION identity the probe
    groups by: a hive-partitioned table scans one file per cell=N
    directory but is still one relation whose row-group total is
    meaningful (the repo's own ANN index layout; r14 review)."""
    import os.path

    d = os.path.dirname(path)
    while "=" in os.path.basename(d):
        d = os.path.dirname(d)
    return d


def _local_parquet_path(uri: str) -> str:
    """Local filesystem path of one inputFiles() entry, or raise to
    skip the probe. Handles every file-scheme spelling Hadoop/Spark
    emit — `file:/p`, `file:///p`, `file://host/p` (localhost only) —
    via urllib.parse instead of the r13 `file://` prefix-strip, which
    silently no-op'd on the single-slash form (r13 ADVICE). Remote
    schemes (s3a/hdfs/...) raise: their footers are not readable via
    the local pyarrow fast path, so the probe degrades loudly."""
    from urllib.parse import unquote, urlparse

    if not uri.endswith(".parquet"):
        raise ValueError(f"non-parquet input {uri!r}, skip probe")
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        if parsed.netloc not in ("", "localhost"):
            raise ValueError(f"non-local file URI {uri!r}, skip probe")
        return unquote(parsed.path) if parsed.scheme else uri
    raise ValueError(f"remote scheme {parsed.scheme!r}, skip probe")


def _row_groups(paths: tuple[str, ...]) -> int:
    """Total parquet row groups of one relation's files."""
    import pyarrow.parquet as pq

    if len({_table_root(p) for p in paths}) != 1:
        raise _BenignProbeSkip
    row_groups = 0
    for local in paths:
        with pq.ParquetFile(local) as pf:
            row_groups += pf.num_row_groups
    return row_groups


def widen_if_narrow(
    spark: SparkSession,
    df: DataFrame,
    min_bytes: int = 2 * 1024 * 1024,
    split_bytes: int | None = None,
) -> DataFrame:
    """Adaptive compensation for pathologically narrow scans: the
    driver/test parquet files ship ONE row group per file, so a scan
    can never split below whole-file granularity and every map-side
    stage above it (HOF vector math, Arrow passes, explodes) runs 1-2
    wide on a 32-core session regardless of maxPartitionBytes (r11
    finding: customer sf1 = 1 partition, documents/embeddings = 2).
    Repartition to the session default ONLY when the plan's scan
    parallelism is at or below a quarter of it AND the relation is big
    enough for the spread to pay for the exchange (>= 2 MB by
    optimizer size stats — at bench SF the documents relation is
    ~0.6 MB and the repartition overhead measurably exceeded the
    map-width win, e.g. pipeline_ccnet_buckets 2.25 -> 3.22 s at
    sf0.1; at sf1 it is 5.9 MB and the same entry gains 4.4 s). On a
    real corpus with row-group-sized splits this is a no-op, so no
    exchange is added at deploy scale. Both probes are plan metadata
    (physical planning / optimizer stats, no job).

    ``min_bytes`` is the caller's statement of downstream per-row
    cost: plans whose map work above the scan is heavy Python (the
    symspell variant generator burns seconds on a frame the optimizer
    prices under 1 MB after column pruning) pass 0 to widen whenever
    narrow; the default serves JVM-side explode/HOF work where the
    exchange only pays for itself on MB-scale inputs.

    ``split_bytes`` (r18, guide §2.6) sizes the widened width to the
    relation instead of jumping straight to ``defaultParallelism``:
    target = clamp(ceil(size / split_bytes), planned splits, default
    parallelism). Callers whose per-row work is LIGHT Python (the PNG
    codec measures 0.03 ms/row) pass it so a KB-scale frame widens to
    a handful of tasks, not 32 — at bench SF a 32-task Python stage
    under bursty host contention rolls 32 straggler dice for ~30 ms
    of compute each (the r17 driver pair: the 32-core run LOST to the
    8-core run on this entry), while at sf1+ the size-scaled target
    saturates at defaultParallelism so nothing changes where the data
    is big enough to matter. None (default) keeps the flat
    full-parallelism jump for heavy-per-row callers (symspell,
    hashed-bigram features) whose Python seconds dwarf any byte
    estimate.

    The narrowness probe counts PLANNED splits capped by the scanned
    files' actual parquet ROW-GROUP count (r13 finding): Spark plans
    byte-range splits, but a split that contains no row-group start
    reads zero rows, so a 52 MB single-file corpus with 2 row groups
    plans "13 partitions" and executes 2-wide — the probe said wide,
    the BNL pair scan above it ran on 2 of 32 cores for 40+ minutes at
    sf10. Footer reads are metadata-priced and only attempted when the
    scan is few-file (a many-file scan is genuinely wide) AND every
    input file belongs to ONE relation — same table root after
    stripping hive partition segments (r13 ADVICE + r14 review: a
    frame scanning multiple tables would otherwise be capped by a
    summed row-group count that belongs to no single scan, while a
    hive-partitioned single table must keep the protection); a
    multi-relation frame skips silently (correct behavior), any real
    probe failure degrades to the planned count (the pre-r13
    behavior) and logs once per session so the degrade is visible."""
    parts = df.rdd.getNumPartitions()
    target = spark.sparkContext.defaultParallelism
    if parts * 4 > target:
        try:
            files = df.inputFiles()
            if 0 < len(files) <= 64:
                paths = tuple(sorted(_local_parquet_path(f) for f in files))
                # footer metadata, probed once per content fingerprint
                build = lambda: _row_groups(paths)  # noqa: E731
                groups = memo(spark, ("row_groups",) + paths, build, sources=paths)
                parts = min(parts, groups)
        except _BenignProbeSkip:
            pass
        except Exception as exc:
            global _PROBE_DEGRADE_LOGGED
            if not _PROBE_DEGRADE_LOGGED:
                _PROBE_DEGRADE_LOGGED = True
                import logging

                logging.getLogger(__name__).warning(
                    "row-group narrowness probe degraded to planned "
                    "split count (%s); a narrow single-file scan may "
                    "over-report parallelism",
                    exc,
                )
        if parts * 4 > target:
            return df
    try:
        # private JVM accessor — version-fragile by nature. If a Spark
        # upgrade moves it, degrade to NOT widening (the pre-r11 plan
        # shape, correct everywhere) rather than raising inside 20+
        # certified entries (r11 verdict nit 1).
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    if size >= min_bytes:
        if split_bytes is not None and split_bytes > 0:
            target = min(target, max(parts, -(-size // split_bytes)))
            if target <= parts:
                return df
        return df.repartition(target)
    return df


def model_cache_path(
    sf_dir: str, kind: str, src_table: str, params: str, ext: str = ""
) -> tuple[str, str]:
    """(cache path, data fingerprint) for persisting DETERMINISTIC
    trained model state per corpus dir — shared by the k-means centroid
    JSON and the ANN index directory (r12 review: the two private
    copies had already drifted). The fingerprint is the source
    parquet's (size, mtime_ns) plus the caller's hyperparameter/version
    string, so a regenerated corpus or a training-code version bump
    rebuilds, while an unchanged fingerprint means the persisted state
    IS what retraining would produce (callers persist only
    bit-deterministic derivations). Lives under the repo's gitignored
    .localdata/model_cache, never under sf_dir (testdata is
    read-only). Only collect()ed model state belongs here — in-plan
    state (logreg weights) must never be cached to disk.

    Spark-written corpora are DIRECTORIES, and a directory's own stat
    is useless as a content fingerprint (st_size is fs metadata; mtime
    moves only when entries are added/removed, so an in-place rewrite
    of a part file under the same name would serve stale model state —
    r12 ADVICE). For directories the fingerprint folds the sorted
    (relative name, size, mtime_ns) of every contained data file
    instead."""
    import hashlib
    import os

    src = table_path(sf_dir, src_table)
    fp = stat_fingerprint(src, capped=False)
    if os.path.isdir(src):
        fp = f"dir:{hashlib.md5(fp.encode()).hexdigest()}"
    fp = f"{fp}:{params}"
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return (
        os.path.join(root, ".localdata", "model_cache", f"{kind}_{tag}{ext}"),
        fp,
    )


def read_parquet_fast(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the metadata work memoized per
    (path, content fingerprint): the first open of given bytes lists
    and infers exactly as before; while the fingerprint holds,
    subsequent opens in the application return the SAME resolved
    relation — no listing job, no footer-sampling job. A partitioned
    directory with more leaf dirs than
    spark.sql.sources.parallelPartitionDiscovery.threshold (default 32
    — the persisted ANN index at bench SF has ~48 cell= dirs) would
    otherwise list via a distributed Spark job on every open. Data is
    always read from the parquet files at execution time; only
    metadata (file index + schema) is reused — the in-process
    equivalent of a metastore/manifest (guide §6: table formats with
    manifest metadata avoid directory listing altogether). A path with
    no local stat fingerprint (object store) or over the fingerprint
    walk cap degrades to stock spark.read.parquet, loudly once per
    session."""
    return memo(
        spark, ("relation", path), lambda: spark.read.parquet(path), sources=(path,)
    )


def table_path(sf_dir: str, name: str) -> str:
    """The parquet path of one catalog table under ``sf_dir``."""
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table; Catalyst handles column pruning and
    predicate pushdown into this parquet read.

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: TIMESTAMP(NANOS), which Spark reads only as a raw long
    (see session.py nanosAsLong) and we convert with DuckDB's truncating
    integer division, and TIMESTAMP(MICROS, isAdjustedToUTC=false),
    which Spark >= 3.4 infers as TIMESTAMP_NTZ. Both are normalized to
    session-local TIMESTAMP here (session tz pinned to UTC, so the
    NTZ -> LTZ cast is a numeric identity): downstream operators use
    instant functions (unix_micros, window()) that reject NTZ, and the
    DuckDB oracle reads the same bytes as naive-UTC either way.
    """
    # defensive: both confs are runtime-settable, and an externally
    # built session (the grading driver's) won't have them — without
    # nanosAsLong the events TIMESTAMP(NANOS) column fails the read
    # outright, and a non-UTC session tz would shift EVERY rendered
    # date/timestamp (orders/lineitem date_format, unix_timestamp, the
    # events ts) away from the naive-UTC oracle values, so set both
    # unconditionally on every load, not just for events. (No read-
    # before-set guard: conf.get on an UNSET boolean conf validates the
    # provided default's type and throws on a sentinel string, and
    # conf.set of an unchanged value is cheap.)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_fast(spark, table_path(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load all testdata tables and register temp views.

    Returns name -> DataFrame so callers can use either API. Idempotent.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def analyze_table(spark: SparkSession, table: str, columns: tuple[str, ...] = ()):
    """Collect table (and optionally column) statistics into the
    catalog — the cost-based-optimizer feed: with row counts and column
    NDV/min/max on file, Catalyst reorders joins and picks broadcast
    sides from evidence instead of size heuristics. Expects `table` to
    be a saved catalog table (saveAsTable / Iceberg), not a temp view.
    Returns the statistics string Catalyst will use."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS "
            + ", ".join(columns)
        )
    row = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .filter("col_name = 'Statistics'")
        .collect()
    )
    return row[0]["data_type"] if row else None
