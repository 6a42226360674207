"""Small shared utilities."""

from __future__ import annotations

import contextlib
from contextvars import ContextVar, copy_context

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def free_persistent_rdds(spark: SparkSession, blocking: bool = True) -> int:
    """Explicitly unpersist EVERY RDD in the context's persistent-RDD
    registry; returns how many were freed.

    `spark.catalog.clearCache()` only reaches cache-manager blocks
    (``df.persist()``); ``localCheckpoint`` RDDs bypass the cache manager
    and free only when the JVM garbage-collects every referencing plan —
    which the ContextCleaner cannot force and which round 4 showed can
    simply never happen while the session lives.  The bench harness (and
    its hygiene test) call this between queries so no query's blocks
    survive into the next query's measurement.  Safe there because nothing
    re-executes a prior query's plan after its measurement completes;
    callers that still need a checkpointed frame must not call this.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()  # py4j dict-like
    rdds = list(jmap.values())
    for jrdd in rdds:
        jrdd.unpersist(blocking)
    return len(rdds)


#: the storage level of ``DataFrame.persist()`` and ``.cache()``
CACHED = StorageLevel.MEMORY_AND_DISK_DESER

# the open released() scopes, innermost last; each maps id -> frame or RDD
_scopes: ContextVar[tuple] = ContextVar("released_scopes", default=())


def materialize(df, level: StorageLevel | None = None):
    """The package's only persist and checkpoint call: an eager
    ``localCheckpoint`` by default, else ``df.persist(level)`` (an RDD
    works too).  The result is registered with the innermost open
    :func:`released` scope; outside any scope the caller owns it.  A
    frame the cache manager already holds stays its owner's: persisting
    it again is a no-op and is not registered."""
    scopes = _scopes.get()
    if level is None:
        out = df.localCheckpoint(eager=True)
    else:
        if (scopes and isinstance(df, DataFrame)
                and df.storageLevel != StorageLevel.NONE):
            scopes = ()
        out = df.persist(level)
    if scopes:
        scopes[-1][id(out)] = out
    return out


def release(df) -> None:
    """Free one :func:`materialize` result now (a checkpoint's RDD or a
    persist's cache entry) and drop it from any open scope.  Only for
    frames nothing will read again."""
    for scope in _scopes.get():
        scope.pop(id(df), None)
    if isinstance(df, DataFrame):
        plan = df._jdf.logicalPlan()
        if plan.nodeName() == "LogicalRDD" and plan.rdd().isCheckpointed():
            plan.rdd().unpersist(False)
            return
    df.unpersist()


@contextlib.contextmanager
def released():
    """On exit, normally or by exception, free exactly what
    :func:`materialize` registered inside this scope, on this thread and
    in the :func:`concurrently` calls it starts; frames reading that
    state are dead after it.  Another thread's scope on the same session
    is never touched.  Open scopes only at entry points (pipelines, CLI
    commands, test harnesses): an operator's result must stay readable.
    Yields a live view of what is registered and not yet released."""
    scope: dict = {}
    token = _scopes.set(_scopes.get() + (scope,))
    try:
        yield scope.values()
    finally:
        _scopes.reset(token)
        for df in reversed(list(scope.values())):
            release(df)


def reads_cached(df: DataFrame) -> bool:
    """True when ``df``'s plan reads through an InMemoryRelation, i.e. a
    frame the cache manager holds.  Inspects the plan; runs no job."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    leaves = cm.useCachedData(df._jdf.logicalPlan()).collectLeaves()
    return any(leaves.apply(i).nodeName() == "InMemoryRelation"
               for i in range(leaves.size()))


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up to cluster parallelism when the input arrives with too
    few partitions.

    Small-but-compute-heavy inputs (a single parquet file of documents whose
    shingling/hashing costs 1000× its IO) otherwise run on ONE core: Spark
    sizes scan partitions by bytes (`spark.sql.files.maxPartitionBytes`), not
    by downstream compute.  At 100 TB the scan is already wide and this is a
    no-op — `fan_out` only ever *increases* parallelism, never shuffles data
    that is already spread out.

    History (SCALE.md): a `min_bytes` size floor used to skip the exchange
    for sub-32 MB inputs on the theory that the shuffle cost exceeded the
    serial compute.  Measured at sf0.1 the opposite was true — the ANN
    brute-force scoring left on 1 partition cost 2.9 s vs 1.3 s fanned out —
    because compute-per-byte for HOF vector folds is high, exactly the case
    this helper exists for.  The floor was the two-round bench regression;
    it is gone.
    """
    if df.isStreaming:
        # no pre-execution partition count exists for a streaming frame
        # (df.rdd raises); micro-batch parallelism is the source's concern
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def concurrently(spark: SparkSession, fn, items) -> list:
    """``[fn(*item) for item in items]``, with the calls run on at most
    ``sc.defaultParallelism`` threads; results come back in input order.

    For independent per-table work (a dump's table writes, a restore's
    reads and file writes): on a small dump each job is a few tasks, so
    run one after another they leave most cores idle while the driver
    waits on the JVM.  A single item runs inline on the caller's thread.  Every
    call is wrapped with ``inheritable_thread_target(spark)`` on the
    caller's thread, so its jobs keep the caller's job group, description
    and tags, each call on its own copy of the local properties.  All
    submitted calls finish before the first exception (in input order) is
    re-raised.  Each call runs in a copy of the caller's context, so what
    it materializes joins the caller's :func:`released` scope.  Keep work
    that must follow an order out of it: a live database may enforce FK
    order between tables, so JDBC and container restores stay one serial
    stream."""
    items = list(items)
    if len(items) <= 1:
        return [fn(*item) for item in items]
    from concurrent.futures import ThreadPoolExecutor
    from pyspark import inheritable_thread_target

    workers = min(len(items), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:   # exit waits for all
        futures = [pool.submit(copy_context().run,
                               inheritable_thread_target(spark)(fn), *item)
                   for item in items]
    return [f.result() for f in futures]


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check — the shared idiom for anything that must
    work on s3a:// / gs:// / hdfs:// paths, where os.path.isdir is always
    False."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def hadoop_read_bytes(spark: SparkSession, path: str) -> bytes:
    """Read a small driver-side file through the scheme-resolved Hadoop
    FileSystem — sidecars/specs must take the same code path on
    s3a://gs://hdfs:// roots as the data they describe."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def hadoop_write_bytes(spark: SparkSession, path: str,
                       payload: bytes) -> None:
    """Overwrite-write a small driver-side file via the Hadoop FS (the
    read twin above).  For atomic replace wrap it in
    :func:`swap_directory` (the datastore manifest does); layout sidecars
    are written once with their layout, so plain create(overwrite) is
    the honest contract."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()


def swap_directory(spark: SparkSession, final: str, write_fn) -> None:
    """Replace directory `final` with freshly-written content, single
    writer assumed: `write_fn(tmp_path)` builds the replacement beside
    it, then final → .bak, tmp → final, delete .bak.  Hadoop FS rename
    and delete act the same on a file, so the datastore manifest is
    swapped through here too.  A failed rename rolls the old
    directory back, and a crash mid-swap leaves either the .bak or the
    .tmp recoverable — content is never lost.  NOT seamless for readers:
    between rename(final → .bak) and rename(.tmp → final) the final path
    briefly does not exist (on s3a, where rename is copy+delete, the
    window is as long as the copy) — run compaction on a maintenance
    cadence with probes quiesced, or retry a reader that hits a
    missing-path error during the swap.  Hadoop FS throughout: works for
    file://, hdfs:// and s3a:// paths."""
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(final).getFileSystem(spark._jsc.hadoopConfiguration())
    tmp, bak = final + ".tmp", final + ".bak"
    if fs.exists(P(tmp)):
        fs.delete(P(tmp), True)
    write_fn(tmp)
    had_old = fs.exists(P(final))
    if had_old:
        if fs.exists(P(bak)):
            fs.delete(P(bak), True)
        if not fs.rename(P(final), P(bak)):
            raise IOError(f"rename {final} -> {bak} failed")
    if not fs.rename(P(tmp), P(final)):
        if had_old:
            fs.rename(P(bak), P(final))
        raise IOError(f"rename {tmp} -> {final} failed")
    fs.delete(P(bak), True)


def recover_directory(spark: SparkSession, final: str) -> bool:
    """Repair a crashed :func:`swap_directory`: a crash between
    rename(final → .bak) and rename(.tmp → final) leaves the final path
    missing with the .bak (old content, complete) and possibly .tmp
    (new content, possibly partial) beside it.  Restore the .bak —
    the old content is the only copy KNOWN complete — and drop the
    orphan .tmp.  Returns True if a recovery was performed.  No-op when
    the final path exists (the .bak/.tmp cleanup then belongs to the
    next successful swap)."""
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(final).getFileSystem(spark._jsc.hadoopConfiguration())
    tmp, bak = final + ".tmp", final + ".bak"
    if fs.exists(P(final)) or not fs.exists(P(bak)):
        return False
    if not fs.rename(P(bak), P(final)):
        raise IOError(f"crashed-swap recovery: rename {bak} -> {final} "
                      f"failed")
    if fs.exists(P(tmp)):
        fs.delete(P(tmp), True)
    return True


def compact_parquet_dir(spark: SparkSession, path: str,
                        max_records_per_file: int = 2_000_000,
                        partition_by: "str | None" = None) -> "tuple[int, int]":
    """Rewrite a parquet directory into right-sized files — the
    small-files remedy for append-grown layouts (every appended batch
    adds at least one file per subdirectory; thousands of tiny files
    make listing + footer reads dominate scan time).  Reads the current
    content, writes a consolidated copy beside it, swaps.  Returns
    (files_before, files_after).  O(one scan + one write); run it on the
    maintenance cadence, not per batch.  A swap crashed by a previous
    compaction run (final missing, .bak holding the old content) is
    repaired first (:func:`recover_directory`), so re-running compaction
    after a crash is the recovery procedure."""
    import math

    recover_directory(spark, path)
    df = spark.read.parquet(path)
    n = df.count()
    target = max(1, math.ceil(n / max_records_per_file))

    def write(tmp: str) -> None:
        w = df.repartition(target).write
        if partition_by and partition_by in df.columns:
            w = w.partitionBy(partition_by)
        w.parquet(tmp)

    def count_files(p: str) -> int:
        jvm = spark._jvm
        P = jvm.org.apache.hadoop.fs.Path
        fs = P(p).getFileSystem(spark._jsc.hadoopConfiguration())
        it = fs.listFiles(P(p), True)
        c = 0
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().endswith(".parquet"):
                c += 1
        return c

    before = count_files(path)
    swap_directory(spark, path, write)
    return before, count_files(path)
