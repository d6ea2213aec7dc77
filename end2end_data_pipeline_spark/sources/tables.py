"""Parquet table sources for the driver testdata layout.

Reference analog: the warehouse scan path (``airflow/dags/spark.py:24``,
one ``spark.read.parquet``) generalized to the ten-table testdata star
schema. Reads stay fully declarative so Catalyst pushes filters and
prunes columns into the parquet scan (verify via
``df.explain('formatted')`` → PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLE_NAMES = (
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

# Dimension tables small enough to broadcast at any realistic scale
# (region/nation are fixed-cardinality; supplier/part/customer grow with
# SF but stay orders of magnitude below the fact tables).
BROADCAST_DIMS = ("region", "nation", "supplier")


# (applicationId, tag) -> a session-cached DataFrame. Operators whose
# hot intermediate is corpus-scale (minhash/simhash signatures,
# shingle sets) route their .cache() through this memo so repeated
# invocations — full-registry sweeps, bench repeat=N — reuse ONE
# InMemoryRelation per session+input instead of accumulating a fresh
# one per call (the ge2/q15 memo pattern generalized; r9 review).
_FRAME_MEMO: dict[tuple[str, str], DataFrame] = {}


def session_cached(spark: SparkSession, tag: str, frame: DataFrame) -> DataFrame:
    """Memoized ``frame.cache()`` keyed on (applicationId, tag) —
    build the (lazy) frame unconditionally, cache it once per session."""
    key = (spark.sparkContext.applicationId, tag)
    hit = _FRAME_MEMO.get(key)
    if hit is not None:
        return hit
    out = frame.cache()
    _FRAME_MEMO[key] = out
    return out


def evict(spark: SparkSession, tag: str) -> None:
    """Unpersist and forget the ``session_cached`` frame under ``tag``,
    so a later call rebuilds it instead of getting back a memoized
    frame whose cache is gone."""
    hit = _FRAME_MEMO.pop((spark.sparkContext.applicationId, tag), None)
    if hit is not None:
        hit.unpersist()


def disk_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` at DISK_ONLY — for corpus-scale
    intermediates that feed several consumers. MEMORY_AND_DISK (the
    localCheckpoint default) lets checkpoint blocks compete with the
    session's cached frames in the storage pool and evict them (r13:
    a bench run with memory-level checkpoints showed cache-dependent
    queries recomputing — task fingerprints jumped 73->239 — while
    disk-level blocks leave the working caches alone; the blocks are
    read back once per consumer, sequentially, which the OS page
    cache absorbs anyway).

    Cluster-scale caveat (applies to every localCheckpoint site):
    blocks live on executors, so a lost executor fails the query
    instead of recomputing — acceptable for these bounded
    intermediates; a 100 TB deployment that needs fault tolerance
    swaps this for ``spark.sparkContext.setCheckpointDir`` + reliable
    ``checkpoint()`` with no other code change. Unlike
    ``session_cached`` the result is a LogicalRDD leaf: downstream
    plans lose Catalyst statistics (joins against it won't
    auto-broadcast) but also lose the parent LINEAGE — use it when
    the consumer's analyzed plan would otherwise grow with every
    composition (iterative rounds: the r14 k-core fix took the
    4-round plan from 234k lines / ~3 s of per-invocation planning
    to a 4-leaf plan at ~0.4 s)."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


# (applicationId, tag) -> an eagerly disk-checkpointed DataFrame; the
# checkpoint IS the materialization, so no .cache() on top (blocks
# would be stored twice). Same lifecycle as _FRAME_MEMO.
_CKPT_MEMO: dict[tuple[str, str | tuple[str, str]], DataFrame] = {}


def session_checkpointed(spark: SparkSession, tag: str, frame: DataFrame) -> DataFrame:
    """Memoized ``disk_checkpoint`` keyed on (applicationId, tag) —
    the lineage-TRUNCATING sibling of ``session_cached``, for
    intermediates whose consumers would otherwise re-analyze the
    whole upstream tree every invocation (iterative graph rounds,
    deep shared builders). Eager: fn() runs Spark jobs at
    construction time on the first call per session."""
    key = (spark.sparkContext.applicationId, tag)
    hit = _CKPT_MEMO.get(key)
    if hit is not None:
        return hit
    out = disk_checkpoint(frame)
    _CKPT_MEMO[key] = out
    return out


def session_memoized(spark: SparkSession, tag: str, build) -> DataFrame:
    """Memoize an ALREADY-MATERIALIZED frame produced by ``build()``
    (a zero-arg callable) — for driver-coordinated LOOP outputs
    (iterative label propagation, fixpoint rounds) whose construction
    runs eager jobs and driver-side convergence counts before any
    frame exists. ``session_checkpointed`` cannot short-circuit those
    (the loop executes before it is called), so repeat invocations
    would re-run every round; this runs the loop once per
    (applicationId, tag) and hands every later caller the final
    materialized frame. Same memo/lifecycle as the checkpoint memo,
    under its own ("memo", tag) keys, so a tag reused by
    ``session_checkpointed`` can never hand back the other's frame."""
    key = (spark.sparkContext.applicationId, ("memo", tag))
    hit = _CKPT_MEMO.get(key)
    if hit is None:
        hit = _CKPT_MEMO[key] = build()
    return hit


def input_scaled_partitions(
    sf_dir: str, *tables: str, target_mb: int = 64, factor: float = 1.0
) -> int:
    """Partition count for a session-cached frame derived from the
    given fixture tables: ceil(input_bytes * factor / target_mb).
    Cached frames pin their partitioning (AQE cannot coalesce an
    InMemoryRelation after the fact), so an un-coalesced cache keeps
    the build's 32-way layout forever — at sf0.1 that turned every
    consumer pass over an 8k-row cache into 32 fixed-cost tasks
    (guide §2.2: partitions should be data-sized). A CONSTANT
    coalesce is the opposite failure at 100 TB, so the count derives
    from the actual input bytes: ~1 locally, thousands on a real
    table. ``factor`` scales for frames materially smaller than their
    input (e.g. codes vs raw vectors)."""
    import math
    import os

    total = 0
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            total += sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(p)
                for f in fs
            )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return max(1, math.ceil(total * factor / (target_mb * 1024 * 1024)))


def frame_memo_tag(sf_dir: str, name: str) -> str:
    """Canonical ``session_cached``/``session_checkpointed`` tag for a
    frame derived from one fixture dir: name + abspath, so relative
    and absolute callers share ONE memo entry (r13 advice: the
    ppjoin_prefix tag keyed the raw sf_dir string while
    _copurchase_op keyed abspath — mixed callers double-materialize).
    Deliberately no (mtime, size) component, unlike model_memo_key:
    cached frames hold derived ROWS that are rebuilt per application,
    and no harness regenerates a fixture in place within one
    application (tests use fresh tmp_path dirs); model state, which
    bakes values into later plans, keeps the stat-based key."""
    import os

    return f"{name}:{os.path.abspath(sf_dir)}"


_SCRATCH_DIRS: list[str] = []


def run_scratch_dir(prefix: str) -> str:
    """Per-run scratch dir (stream checkpoints, symlink sources,
    replay state), removed at interpreter exit — the shared lifecycle
    behind every replay's scratch (r10 advice: per-run dirs, never
    the accumulating shared tempdir; r11 code review: one helper, not
    one copy per operator module)."""
    import atexit
    import shutil
    import tempfile

    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [
                shutil.rmtree(d, ignore_errors=True) for d in _SCRATCH_DIRS
            ]
        )
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


def model_memo_key(spark: SparkSession, sf_dir: str, table: str) -> tuple:
    """Memo key for per-application MODEL STATE trained off one
    fixture table (k-means centroids, BPE merge lists, drained replay
    state): (applicationId, abspath(sf_dir), mtime_ns, size). One
    builder so every model cache keys identically — abspath so mixed
    relative/absolute callers share one entry, and (mtime, size) so a
    fixture regenerated at the same path within one application is
    never served stale state (r11 advice: the three memos had drifted
    between verbatim and abspath keys)."""
    import os

    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        st.st_mtime_ns,
        st.st_size,
    )


def sf_tag(sf_abs: str) -> str:
    """Filesystem-safe tag for per-sf_dir scratch paths: the readable
    basename PLUS a short digest of the FULL path — two fixture dirs
    with the same leaf name (tmp_path fixtures, parallel checkouts)
    must never share a scratch directory (r9 code review: a
    basename-only tag let one session's builds overwrite another
    sf_dir's while the memo, keyed on the full path, kept serving the
    overwritten copy)."""
    import hashlib
    import re

    base = re.sub(r"[^0-9A-Za-z]", "_", __import__("os").path.basename(sf_abs))
    return f"{base}_{hashlib.sha1(sf_abs.encode()).hexdigest()[:8]}"


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-local TIMESTAMP.

    The testdata stores untagged ``timestamp[us]`` parquet columns, which
    Spark 4 infers as TIMESTAMP_NTZ (``spark.sql.parquet.inferTimestampNTZ
    .enabled`` defaults true). The engine's event-time contract is
    instant-typed TIMESTAMP (session TZ pinned UTC at session.py, so the
    cast is value-identical), and epoch-math builtins (``unix_millis``,
    ``cast(double)``, watermarks) reject NTZ — normalizing once here keeps
    every downstream operator type-stable across Spark 3/4 and both
    fixture layouts. DuckDB reads the same parquet as naive timestamps,
    so oracle comparisons stay value-aligned.
    """
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# (SparkSession, *model_memo_key, table, kind) -> a fixture table's
# loaded DataFrame handle ("table") or its raw file schema ("schema").
# Every spark.read.parquet lists the files and runs a schema-inference
# Spark job; the handle is immutable and holds no rows, so one per
# session and fixture file serves every later load.
_TABLE_MEMO: dict[tuple, object] = {}


def _fixture_memo(spark: SparkSession, sf_dir: str, name: str, kind: str, build):
    """``build()`` once per (session, fixture file, kind). The stat-based
    ``model_memo_key`` makes relative and absolute ``sf_dir`` share one
    entry and gives a fixture rewritten at the same path a fresh one.
    A build that raises stores nothing; inserting drops the entries of
    other applications, so a long-lived process does not pin stopped
    sessions' handles."""
    try:
        key = (spark, *model_memo_key(spark, sf_dir, name), name, kind)
    except OSError:
        # no local file to stat (a missing table, a remote URI): read
        # unmemoized, so a missing table raises Spark's own error
        return build()
    hit = _TABLE_MEMO.get(key)
    if hit is None:
        hit = build()
        for stale in [k for k in _TABLE_MEMO if k[1] != key[1]]:
            del _TABLE_MEMO[stale]
        _TABLE_MEMO[key] = hit
    return hit


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # integer division keeps full precision (a double round-trip
        # would corrupt epoch-nanos > 2^53)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_ntz(df)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Path layout: ``{sf_dir}/{name}.parquet``.

    Older fixtures wrote ``events.ts`` as a nanosecond parquet timestamp,
    which Spark's TimestampType (microseconds) cannot represent; we read
    it as a raw int64 (``nanosAsLong``) and truncate to microseconds —
    the same truncation DuckDB applies when casting TIMESTAMP_NS down, so
    oracle comparisons stay aligned (FIXTURES.md §4). Current fixtures
    write untagged micros, normalized by ``_normalize_ntz``.

    The handle is memoized per session and fixture file (see
    ``_fixture_memo``), so repeated loads share one DataFrame: a query
    that joins two loads of the same table must ``alias`` them.
    """
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # set on every call, hit or miss: plans built from the handle
        # re-read the file, and the conf must still hold when they run
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _fixture_memo(
        spark, sf_dir, name, "table", lambda: _read_table(spark, sf_dir, name)
    )


def raw_table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The fixture file's own schema, before ``load_table``'s ``ts`` and
    NTZ normalization — what a file-stream source over the fixture
    must declare. Memoized like ``load_table``."""
    return _fixture_memo(
        spark,
        sf_dir,
        name,
        "schema",
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet").schema,
    )


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-stream source over one fixture table, with the raw schema
    pinned from ``raw_table_schema``. A directory table streams
    directly. A single-file table streams through a name glob over
    ``sf_dir``, because the file source rejects a plain file as its
    base path (and a name glob over ``sf_dir`` would find nothing
    inside a directory table)."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    reader = spark.readStream.schema(raw_table_schema(spark, sf_dir, name))
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)


def fan_out(spark: SparkSession, df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Ensure at least cluster-parallelism partitions ahead of a
    CPU-heavy per-row pass (md5 shingling, vector quantization).

    Small single-row-group parquet files scan as ONE partition, which
    serializes whole-stage-codegen'd-but-expensive row expressions on a
    single core. The guard makes this a no-op whenever the upstream
    already has enough splits — on a real multi-file 100 TB table this
    never repartitions (the scan has thousands of files); it only
    rescues the degenerate small-file case, paying one cheap shuffle of
    the raw rows to unlock N-core execution.

    The probe is ``df.inputFiles()`` — a driver-side catalog listing
    with no job, no RDD conversion, and no extra physical-plan
    compilation (the previous ``df.rdd.getNumPartitions()`` probe
    forced a plan-to-RDD translation at every query-build; flagged in
    round-2 review). File count under-estimates split count for huge
    splittable files, but every caller passes a freshly loaded parquet
    table where files >= ``n`` implies splits >= ``n``, and at 100 TB
    the listing has thousands of entries so this stays a no-op."""
    n = partitions or spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < n:
        return df.repartition(n)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables (all by default) as a name->DataFrame dict."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so ``spark.sql`` can reference tables by name."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
