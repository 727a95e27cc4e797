"""Parquet sources for the driver's fixture tables (SURVEY §2.1 S6).

One parquet file per table under ``{sf_dir}/{name}.parquet``. Every load
is a ``spark.read.parquet`` of that path, so Catalyst gets the native
vectorized reader, predicate pushdown and column pruning for free. The
first load of a path infers its schema from the parquet footers (one
Spark job); later loads pass that schema to the reader (no job) for as
long as the path's file listing and the inference confs are unchanged
(:func:`load_table`).
"""

from __future__ import annotations

import functools
import inspect
import os
import stat
import tempfile
import threading
import time
import weakref
from collections.abc import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: the confs that change the schema Spark 4.1 infers from parquet
#: footers: ``ParquetToSparkSchemaConverter``'s type mapping, and which
#: footers ``ParquetUtils.inferSchema`` reads and merges
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.caseSensitive",
)

#: table path -> (stamp, schema): the schema inferred at the path's last
#: miss, one entry per path. Not a substrate, and
#: :func:`clear_substrate_caches` leaves it: an entry is served only
#: under its own stamp, so it is never stale.
_TABLE_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


#: SparkContext -> whether its Hadoop ``fs.defaultFS`` is the local file
#: system, read once per context
_DEFAULT_FS_IS_LOCAL: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def local_path(spark: SparkSession, path: str) -> str | None:
    """The OS path that ``path`` names when Hadoop resolves it on the
    local file system: an absolute path with a ``file:`` scheme and an
    empty authority, or with no scheme while the context's
    ``fs.defaultFS`` is ``file:`` (read once per SparkContext). None for
    any other path: another scheme (HDFS, S3A and the like), whose
    configuration and credentials reach it only through the JVM, and a
    relative path, which Hadoop resolves against the JVM's working
    directory."""
    colon, slash = path.find(":"), path.find("/")
    if colon != -1 and (slash == -1 or colon < slash):  # Hadoop Path's scheme rule
        if path[:colon].lower() != "file":
            return None
        path = path[colon + 1 :]
        if path.startswith("//"):  # an authority; only ``file:///`` is local
            if not path.startswith("///"):
                return None
            path = path[2:]
    else:
        sc = spark.sparkContext
        local = _DEFAULT_FS_IS_LOCAL.get(sc)
        if local is None:
            default = sc._jsc.hadoopConfiguration().get("fs.defaultFS") or "file:///"
            local = _DEFAULT_FS_IS_LOCAL[sc] = default.lower().startswith("file:")
        if not local:
            return None
    if not path.startswith("/"):
        return None
    return path.rstrip("/") or "/"  # Hadoop drops a trailing slash


def _hidden_checksum(name: str) -> bool:
    # what ChecksumFileSystem.listStatus hides (ChecksumFileSystem.DEFAULT_FILTER)
    return name.startswith(".") and name.endswith(".crc")


def _local_status(path: str) -> list[tuple[str, int, int, bool]]:
    """``LocalFileSystem.listStatus`` of the OS path ``path`` from
    ``os.scandir``: ``st_size`` is the length and ``st_mtime_ns`` in whole
    milliseconds the modification time (``File.lastModified``); checksum
    files are hidden, an entry gone between the listing and its stat is
    skipped, and a file lists as itself. Raises OSError when ``path``
    cannot be listed, a missing one included."""
    try:
        with os.scandir(path) as it:
            found = []
            for entry in it:
                if _hidden_checksum(entry.name):
                    continue
                try:
                    found.append((entry.name, entry.stat()))
                except FileNotFoundError:  # removed since, or a dangling link
                    continue
    except NotADirectoryError:
        name = os.path.basename(path)
        found = [] if _hidden_checksum(name) else [(name, os.stat(path))]
    return [
        (name, st.st_size, st.st_mtime_ns // 1_000_000, stat.S_ISDIR(st.st_mode))
        for name, st in found
    ]


class PathFs:
    """``path`` on the file system Spark reads it from, decided once, at
    construction (:func:`local_path`). On the local file system
    :meth:`status`, :meth:`exists` and :meth:`publish` are ``os`` calls
    and :meth:`readable` names the file in place: no JVM round trip. On
    any other (HDFS, S3A and the like) they are Hadoop-FS calls over
    py4j, through handles built on first use. Set ``local`` to None to
    take the Hadoop form on a local path."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark, self.path = spark, path
        self.local = local_path(spark, path)
        self._handles: tuple | None = None

    def hadoop(self) -> tuple:
        """(Hadoop ``Path`` class, the path's ``Path``, its ``FileSystem``)."""
        if self._handles is None:
            # one py4j lookup of the full class name, not one per package
            path_cls = getattr(self.spark._jvm, "org.apache.hadoop.fs.Path")
            root = path_cls(self.path)
            fs = root.getFileSystem(self.spark._jsc.hadoopConfiguration())
            self._handles = (path_cls, root, fs)
        return self._handles

    def status(self) -> list[tuple[str, int, int, bool]]:
        """``FileSystem.listStatus`` of the path as ``(name, length,
        modificationTime, isDirectory)`` tuples, in listing order; a file
        lists as itself. Raises OSError (local) or Py4JError (Hadoop)
        when the path cannot be listed, a missing one included."""
        if self.local is not None:
            return _local_status(self.local)
        _, root, fs = self.hadoop()
        return [
            (st.getPath().getName(), st.getLen(), st.getModificationTime(), st.isDirectory())
            for st in fs.listStatus(root)
        ]

    def exists(self) -> bool:
        if self.local is not None:
            return os.path.exists(self.local)
        _, root, fs = self.hadoop()
        return fs.exists(root)

    def readable(self, name: str, tmp: str | None) -> str:
        """An OS path that holds the path's child ``name``: the file
        itself on the local file system, else a copy in the directory
        ``tmp`` (``copyToLocalFile``). Raises OSError or Py4JError."""
        if self.local is not None:
            return os.path.join(self.local, name)
        path_cls, root, fs = self.hadoop()
        dst = os.path.join(tmp, name)
        fs.copyToLocalFile(False, path_cls(root, name), path_cls(dst), True)
        return dst

    def publish(self, name: str, write: Callable[[str], object]) -> None:
        """Add the file ``name`` whole to the directory at the path (made
        when missing): ``write(os_path)`` writes it under the hidden name
        ``.<name>.tmp``, which Spark's reader and the engine's listing
        skip, a rename publishes it, and an empty ``_SUCCESS`` follows, as
        Spark's committer writes. Off the local file system the file is
        written locally and copied to the hidden name first
        (``copyFromLocalFile``). A failure removes the hidden file."""
        hidden = f".{name}.tmp"
        if self.local is not None:
            os.makedirs(self.local, exist_ok=True)
            tmp = os.path.join(self.local, hidden)
            try:
                write(tmp)
                os.replace(tmp, os.path.join(self.local, name))
            finally:
                if os.path.lexists(tmp):  # the write or the rename failed
                    os.remove(tmp)
            open(os.path.join(self.local, "_SUCCESS"), "wb").close()
            return
        path_cls, root, fs = self.hadoop()
        dst = path_cls(root, hidden)
        with tempfile.TemporaryDirectory() as tmp:
            write(os.path.join(tmp, name))
            try:
                fs.copyFromLocalFile(False, True, path_cls(os.path.join(tmp, name)), dst)
                if not fs.rename(dst, path_cls(root, name)):
                    raise OSError(f"{self.path}: cannot rename {hidden} to {name}")
            except BaseException:
                fs.delete(dst, False)
                raise
        fs.create(path_cls(root, "_SUCCESS"), True).close()


def _schema_stamp(spark: SparkSession, path: str) -> tuple | None:
    """What the schema Spark infers for ``path`` depends on: the sorted
    ``(name, length, modificationTime)`` of its entries from one
    :meth:`PathFs.status` (a single file lists as itself), and the
    :data:`_INFERENCE_CONFS` values. None when the path cannot be
    listed, a missing one included, or holds a directory (partition
    discovery reads the names under it)."""
    try:
        entries = PathFs(spark, path).status()
    except (OSError, Py4JError):  # Py4JJavaError included: a Hadoop FS error
        return None
    if any(is_dir for *_, is_dir in entries):
        return None
    files = tuple(sorted(entry[:3] for entry in entries))
    return files, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """``{sf_dir}/{name}.parquet`` as a DataFrame (``events.ts``
    normalized to TimestampType, below).

    The schema Spark infers from the footers costs one Spark job per
    read, so it is kept per path in :data:`_TABLE_SCHEMAS` under the
    path's :func:`_schema_stamp` (file listing plus inference confs).
    While the stamp is unchanged the read is given that schema and runs
    no job; a rewritten table or a changed conf misses, is read as a
    plain ``spark.read.parquet`` and replaces the entry. When the path
    cannot be listed the read is plain and nothing is stored, so a
    missing table raises Spark's own ``PATH_NOT_FOUND``."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Some fixture generations write events.ts as parquet
        # TIMESTAMP(NANOS), which Spark's reader rejects
        # (PARQUET_TYPE_ILLEGAL) unless nanosAsLong is set. The conf is
        # runtime-settable, so set it here rather than relying on the
        # session factory — load_table must work in ANY SparkSession
        # (the correctness harness builds its own vanilla session).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin UTC for BOTH timestamp layouts, not just the NTZ branch:
        # date-bucketing (to_date, date_trunc) over events must match
        # the UTC-naive DuckDB oracle even in a non-UTC vanilla
        # session, regardless of which layout the fixture carries.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    stamp = _schema_stamp(spark, path)
    held = _TABLE_SCHEMAS.get(path)
    if stamp is not None and held is not None and held[0] == stamp:
        schema = held[1]
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        if stamp is not None:
            _TABLE_SCHEMAS[path] = (stamp, schema)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # NANOS layout: ts surfaced as long (ns since epoch) via
            # nanosAsLong; truncate to µs exactly as DuckDB does so the
            # oracle sees identical values. Integer division — ns values
            # (~1.7e18) overflow double precision.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, TimestampNTZType):
            # MICROS layout (isAdjustedToUTC=false → TIMESTAMP_NTZ):
            # normalize to TimestampType — NTZ can't be cast to bigint
            # (epoch math) and isn't a valid watermark/event-time column.
            # The UTC session pin above makes the NTZ wall-clock map to
            # the same instants DuckDB sees (duckdb timestamps are
            # UTC-naive), in ANY session, not just the factory's.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: every session substrate by name, in registration (import) order
_SUBSTRATES: dict[str, Callable] = {}
#: guards the per-key lock tables of every substrate
_LOCK_GUARD = threading.Lock()
_MISS = object()


def substrate(
    name: str,
    *,
    warm: tuple[tuple, ...] = ((),),
    key: Callable[[dict], tuple | None] | None = None,
):
    """Memoize a session substrate: an expensive intermediate several
    queries share (a checkpointed rollup, a fitted model, a codebook).

    The key is ``(applicationId, *args)`` — the session of the first
    argument plus every other argument, defaults filled in, so
    positional and keyword calls share an entry. ``key`` replaces that
    rule: it receives the bound arguments by name and returns the key,
    or None to build without memoizing. A per-key lock makes a cold key
    build exactly once however many threads ask for it; different keys
    build concurrently, so substrates may call one another.

    ``warm`` lists the extra arguments (after ``spark, sf_dir``) that
    :func:`warm_substrates` builds, one entry each, named
    ``name.format(*extra)``; ``()`` leaves the substrate out of the warm.
    The decorated function keeps its signature and gains ``cache`` (the
    key → value store :func:`clear_substrate_caches` empties) and
    ``timed`` (same call, returning ``(value, build seconds)``, 0.0 on
    a hit)."""

    def deco(build: Callable) -> Callable:
        sig = inspect.signature(build)
        cache: dict = {}
        locks: dict = {}

        def timed(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            bound.apply_defaults()
            if key is None:
                spark, *rest = bound.arguments.values()
                k = (spark.sparkContext.applicationId, *rest)
            else:
                k = key(bound.arguments)
                if k is None:
                    return build(*args, **kwargs), 0.0
            hit = cache.get(k, _MISS)
            if hit is not _MISS:
                return hit, 0.0
            with _LOCK_GUARD:
                lock = locks.setdefault(k, threading.Lock())
            with lock:
                hit = cache.get(k, _MISS)
                if hit is not _MISS:
                    return hit, 0.0
                t0 = time.perf_counter()
                value = cache[k] = build(*args, **kwargs)
                return value, time.perf_counter() - t0

        @functools.wraps(build)
        def cached(*args, **kwargs):
            return timed(*args, **kwargs)[0]

        cached.cache, cached.timed = cache, timed
        cached._locks, cached._warm = locks, warm
        _SUBSTRATES[name] = cached
        return cached

    return deco


def clear_substrate_caches() -> int:
    """Drop every session-substrate entry, returning how many were
    dropped. Entries otherwise hold checkpointed frames for the life of
    the process, stopped sessions' included. Unpersisting is left to
    session teardown — localCheckpoint blocks die with their
    SparkContext — so this only releases the Python references."""
    n = 0
    with _LOCK_GUARD:
        for fn in _SUBSTRATES.values():
            n += len(fn.cache)
            fn.cache.clear()
            fn._locks.clear()
    return n


def warm_substrates(spark: SparkSession, sf_dir: str) -> dict:
    """Build every warmed session substrate eagerly, returning
    {name: build seconds} (0.0 for one already built).

    Bench warm-up calls this so substrate construction is a visible
    line item instead of landing inside whichever consumer query runs
    first (q_ann_recall once read 12.2 s purely because it built the
    shared ground-truth panel). A substrate that nests another reports
    both builds unless the inner one is warmed first."""
    from ..registry import queries

    queries()  # imports every query module, registering its substrates
    timings = {}
    for name, fn in list(_SUBSTRATES.items()):
        for extra in fn._warm:
            timings[name.format(*extra)] = round(fn.timed(spark, sf_dir, *extra)[1], 3)
    return timings


#: session-cached day-level orders rollup, keyed by (applicationId,
#: sf_dir): five temporal/measurement queries (q_kendall_tau,
#: q_runs_test, q_holt_forecast, q_evt_gumbel,
#: q_seasonality_strength) each consume the SAME orders->day
#: aggregate, so computing it once per session and localCheckpointing
#: the |days|-row result replaces four duplicate fact scans+exchanges
#: in any run that executes them together (VERDICT r8 #4). Per-day
#: values (count / 4-dp-rounded sum / 4-dp-rounded max) are exactly
#: what each consumer computed standalone, so sharing changes no
#: result and no oracle.
@substrate("daily_orders")
def daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, n_orders, rev, mx) per order day — d = to_date(o_orderdate),
    n_orders = count, rev = round(sum(o_totalprice), 4),
    mx = round(max(o_totalprice), 4) — eagerly checkpointed once per
    (session, sf_dir). The module rounding convention (4 decimals at
    the day level BEFORE any downstream moment/comparison) is applied
    here so every consumer inherits cross-engine-stable inputs."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("rev"),
            F.round(F.max("o_totalprice"), 4).alias("mx"),
        )
        .localCheckpoint()
    )


#: session-cached part-level revenue rollup, keyed by (applicationId,
#: sf_dir): q_rbo_rank_overlap and q_abc_xyz each independently
#: re-aggregated lineitem to part revenue (VERDICT r9 weak-item lever).
#: Grain is (l_partkey, yr) with RAW gross/net sums so each consumer
#: applies its own period split and the module 4-dp rounding on top.
#: Re-aggregating year-partials is value-identical after round(.,4):
#: gross/net are exact 2-4-decimal quantities, so the true per-part sum
#: is an exact 4-dp decimal and the two-stage float error (~1e-9 rel)
#: never reaches the 5e-5 rounding boundary — oracles unchanged.
@substrate("part_revenue")
def part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, yr, week, gross, net, qty) per part × ship-year ×
    ship-week — yr = year(l_shipdate), week = the Monday of
    date_trunc('week', l_shipdate), gross = sum(l_extendedprice), net =
    sum(l_extendedprice*(1-l_discount)), both RAW (consumers round at
    their own grain), qty = int64 sum(l_quantity) — eagerly
    checkpointed once per (session, sf_dir).

    The grain was refined yr → (yr, week) in r11 so q_abc_xyz's
    weekly-demand CV moments ride the same single fact scan (VERDICT
    r10 weak-item lever): a straddling New-Year week appears as two
    (yr, week) rows, so revenue consumers re-aggregating by part/yr and
    demand consumers re-aggregating by part/week are BOTH exact —
    int64 qty re-sums exactly, and re-aggregating gross/net partials is
    value-identical after round(.,4) because gross/net are exact
    2-4-decimal quantities (the true per-part sum is an exact 4-dp
    decimal; three-stage float error ~1e-9 rel never reaches the 5e-5
    rounding boundary). |part×week-present| rows: bounded by dimension
    × calendar, never the fact, so the checkpoint stays small at any
    scale factor."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, "lineitem", sf_dir)
        .groupBy(
            "l_partkey",
            F.year("l_shipdate").alias("yr"),
            F.to_date(F.date_trunc("week", "l_shipdate")).alias("week"),
        )
        .agg(
            F.sum("l_extendedprice").alias("gross"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "net"
            ),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        )
        .localCheckpoint()
    )


#: session-cached customer lifetime-revenue rollup: q_lorenz_gini,
#: q_theil_index (rounded rev) and q_pareto_concentration (raw rev)
#: each re-scanned orders for the same per-customer sum. Both the
#: 4-dp-rounded and raw values are carried so every consumer reads
#: bit-identical inputs to its standalone form — no oracle changes.
@substrate("cust_revenue")
def cust_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, rev, rev_raw) per ordering customer — rev =
    round(sum(o_totalprice), 4) (the module convention q_lorenz_gini /
    q_theil_index rank on), rev_raw the unrounded sum
    (q_pareto_concentration buckets on it) — eagerly checkpointed once
    per (session, sf_dir). |customers| rows."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, "orders", sf_dir)
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("rev"),
            F.sum("o_totalprice").alias("rev_raw"),
        )
        .localCheckpoint()
    )


#: session-cached per-document token/length counts: six registered
#: queries (q_curriculum_buckets, q_token_count, q_padding_efficiency,
#: q_span_corruption, q_pack_sequences, q_corpus_mixture,
#: q_token_fertility, q_text_stats) each re-tokenized the full corpus
#: to derive one or two scalar counts from the same scan (VERDICT r10
#: weak-item lever for q_curriculum_buckets). Counts are exact
#: integers, so sharing changes no value and no oracle. BOTH tokenizer
#: contracts are carried: ``n_tok`` (the engine-wide lowercase/``\s+``
#: contract of functions/tokenize.py) and ``nt_space`` (the raw
#: single-space split q_pack_sequences/q_corpus_mixture mirror with
#: DuckDB ``string_split(text, ' ')``).
@substrate("doc_tokens")
def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, chars, n_tok, nt_space, bpe_tok) per
    document — chars = length(text), n_tok = |lower/\\s+ tokens|,
    nt_space = |split-on-' ' tokens|, bpe_tok = BPE-ish regex match
    count — eagerly checkpointed once per (session, sf_dir). All four
    counts are Spark ``int`` (the native F.size/regexp_count type), so
    every consumer reads the exact column type it computed standalone.
    |docs| rows × 7 scalars: the checkpoint is dimension-sized, never
    corpus-sized, at any scale factor."""
    return doc_tokens_frame(spark, sf_dir).localCheckpoint()


def doc_tokens_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed :func:`doc_tokens` build plan — exposed
    separately so plan tests can assert the scan-side properties
    (single FileScan, codegen-only counting, pruned read schema) that
    the checkpoint otherwise hides behind ``Scan ExistingRDD``
    (ADVICE r10 #1's lesson applied at introduction time)."""
    from pyspark.sql import functions as F

    from ..functions.text import token_count_bpe, token_count_ws

    # scatter = min-parallelism guard (see _doc_sketch): the fixture
    # scan is ONE partition and the triple tokenize is the whole build
    # cost; on a well-partitioned cluster scan this is a no-op.
    return scatter(load_table(spark, "documents", sf_dir)).select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("chars"),
        token_count_ws("text").alias("n_tok"),
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "nt_space"
        ),
        token_count_bpe("text").alias("bpe_tok"),
    )


def release_local_checkpoint(df: DataFrame) -> bool:
    """Unpersist the RDD blocks behind a ``localCheckpoint``-ed frame
    (ADVICE r11 #3: ``DataFrame.unpersist()`` only clears CacheManager
    entries and is a silent no-op for checkpoint blocks, which
    otherwise live until the SparkContext dies). ONLY safe once no
    live plan still reads the frame — a localCheckpoint has no lineage
    to recompute from. Returns False if the frame is not
    LogicalRDD-backed (nothing to release)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return True
    except Exception:
        return False


def scatter(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Guarantee minimum parallelism for a per-row expensive downstream
    stage (Python UDFs, sketch expressions): repartition ONLY when the
    input arrives under-partitioned (e.g. a small single-file scan = ONE
    partition, so every UDF row would run on one core).

    On well-partitioned input — any real cluster scan, where splits ≥
    cores — this is a no-op returning ``df`` unchanged: no exchange
    enters the plan, so at 100 TB scatter costs nothing (asserted in
    tests/test_plans.py). The earlier unconditional form also served as
    a CollapseProject barrier; measured on Spark 4.x the optimizer no
    longer duplicates non-cheap aliased expressions into their
    references, so the barrier role is obsolete and the exchange was
    pure overhead."""
    spark = df.sparkSession
    target = partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by ``key`` — the
    co-located-join layout: two tables bucketed the same way join
    bucket-to-bucket with NO exchange on either side (asserted in
    tests/test_scale_ops.py). At 100 TB this converts every recurring
    join/agg on the key from a full shuffle into a local merge —
    bucketing is amortized once at write time."""
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.format("parquet").saveAsTable(table)


def arrow_table(rows: list, schema: StructType):
    """``rows`` (tuples in ``schema``'s column order) as an Arrow table of
    ``to_arrow_schema(schema)``. Each column is built in its Arrow type,
    so a nullable integer stays an integer (a pandas frame widens it to
    float), and no rows still give ``schema``'s columns."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow)], schema=arrow
    )


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order; ``schema`` a
    StructType or a DDL string) as a local frame: an :func:`arrow_table`
    handed to ``createDataFrame`` plans a ``LocalTableScan``, which runs
    no Spark job to build or collect, where a list input runs a Python
    stage of ``defaultParallelism`` tasks."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)


def read_partitions(
    spark: SparkSession,
    path: str,
    col: str,
    values,
    schema: StructType | str | None = None,
) -> DataFrame | None:
    """Read only the ``col=value`` directories of a partitioned parquet
    layout that exist (``basePath`` keeps ``col`` as a column), or None
    when none does. A plain read of the root makes the driver list EVERY
    partition directory before pruning — measured as the dominant
    per-question cost at 2048 IVF cells — while this lists only the
    probed ones. A ``schema`` (``col`` included; a StructType or a DDL
    string) spares the read its footer-inference job."""
    path_cls, _, fs = PathFs(spark, path).hadoop()
    subdirs = [
        p for p in (f"{path}/{col}={v}" for v in values) if fs.exists(path_cls(p))
    ]
    if not subdirs:
        return None
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*subdirs)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def roundtrip(
    df: DataFrame,
    path: str,
    fmt: str,
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss",
) -> DataFrame:
    """Write ``df`` in ``fmt`` (csv/json/orc/parquet/xml) and read it
    back with the SAME explicit schema — never inferSchema, which costs
    a full extra pass and can silently widen types. Text formats get a
    pinned timestampFormat so the value roundtrip is exact."""
    opts = {"timestampFormat": timestamp_format}
    if fmt == "csv":
        opts["header"] = "true"
    elif fmt == "xml":
        # Spark 4 built-in XML source; rowTag is mandatory on both sides
        opts["rowTag"] = "row"
    df.write.options(**opts).mode("overwrite").format(fmt).save(path)
    return (
        df.sparkSession.read.options(**opts).schema(df.schema).format(fmt).load(path)
    )
