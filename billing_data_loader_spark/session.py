"""SparkSession builder + runtime prep shared by tests, bench, and the driver.

The driver hands us its own SparkSession (``__spark_entry__.entry`` /
``queries()``), so every config we *require* for oracle parity must be
runtime-settable and applied in :func:`prep`, not only at builder time.

Scale notes (100 TB design intent):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join conversion are the main levers that keep the same logical
  plans healthy on a 1000-executor cluster.
- ``spark.sql.shuffle.partitions`` is the session's task slots, set in
  :func:`prep`: AQE coalesces shuffle reads below it, but not a scan of a
  ``scoped_persist``-ed frame, which keeps the width it was cached at. On a
  cluster it grows with the executor cores, so it is no ceiling.
- Session timezone pinned to UTC: the DuckDB oracle compares timestamps
  UTC-naive (FIXTURES.md integrity notes).

Python workers: :func:`get_spark` starts them through
:mod:`.worker_daemon` (``spark.python.daemon.module``), PySpark's daemon
with one change. Stock workers call ``importlib.invalidate_caches()`` on
every task, and on CPython 3.11 that re-reads the directory of every
cached zip importer (pyspark.zip and the spark-core jar): 0.13-0.21 s of
every task on a 4-vCPU host, against 2-6 ms of numpy in an ANN model
scan. The daemon invalidates only when a task added a ``sys.path`` entry.
It imports this package from the package zip, which ``get_spark`` puts on
the workers' ``PYTHONPATH``. A session that ``get_spark`` did not build
(one handed to ``__spark_entry__``) keeps PySpark's stock workers;
answers are the same, only each Python task pays the re-read.
"""

from __future__ import annotations

import atexit
import functools
import os
import tempfile
import zipfile
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import SparkSession


@contextmanager
def conf_override(spark: SparkSession, confs: dict[str, str]):
    """Scope session-config mutations: set, yield, restore previous values.

    The grading driver (and any long-lived pipeline) reuses ONE session for
    every query; a sink that sets e.g. partitionOverwriteMode and never
    restores it bleeds config into every subsequent query. The streaming
    jobs scope their state-store widths through it.
    """
    saved: dict[str, str | None] = {}
    for key, value in confs.items():
        # get(key, None) is None iff the key was never explicitly set
        # (a bare get(key) returns the entry's built-in default instead,
        # which would turn "unset" into "explicitly set to the default")
        saved[key] = spark.conf.get(key, None)
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, old in saved.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

#: Configs that are runtime-settable and required for oracle parity / sane
#: local performance. Applied to *any* session we receive.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}


@functools.cache
def _package_zip() -> str:
    """Zip this package so Spark Python workers can import it regardless of
    the driver process's cwd (UDF/mapInPandas closures reference
    module-level helpers, which pickle BY REFERENCE and are re-imported in
    the worker). On a real cluster this is exactly `--py-files`.

    Written once per process and removed when the interpreter exits: it
    is the worker daemon's import path for the session's whole life."""
    pkg_root = Path(__file__).resolve().parent
    pid = os.getpid()
    out = Path(tempfile.gettempdir()) / f"bdl_pkg_{pid}.zip"
    with zipfile.ZipFile(out, "w") as zf:
        for py in sorted(pkg_root.rglob("*.py")):
            zf.write(py, f"{pkg_root.name}/{py.relative_to(pkg_root)}")

    def _remove() -> None:
        if os.getpid() == pid:  # not in a forked child that exits normally
            out.unlink(missing_ok=True)

    atexit.register(_remove)
    return str(out)


#: DataFrames persisted inside a declared query, released at the NEXT
#: declared-query entry (plans/registry.py wraps every registered fn).
#: Spark's CacheManager holds strong refs, so an un-released persist()
#: leaks executor memory for the life of the session — this scope bounds
#: the leak to exactly one query's caches in any long-lived job.
_SCOPED_CACHES: list = []


def scoped_persist(df):
    """persist() whose lifetime is one declared query.

    The cache stays alive while the caller's returned DataFrame is
    collected (the driver collects AFTER the query fn returns), and is
    unpersisted when the next declared query begins. Long-lived pipelines
    can call :func:`release_scoped_caches` explicitly at stage boundaries.
    """
    df = df.persist()
    _SCOPED_CACHES.append(df)
    return df


def release_scoped_caches() -> None:
    while _SCOPED_CACHES:
        try:
            _SCOPED_CACHES.pop().unpersist(blocking=False)
        except Exception:
            pass  # session already stopped; nothing to release


def widen_scan(df):
    """Fan a narrow scan out to the session's parallelism BEFORE CPU-heavy
    per-row work (shingling, n-gram hashing, per-char folds).

    Everything fused into a scan stage runs at the scan's task count, and a
    small parquet file is one row-group = ONE task — so a 5k-doc fixture
    serializes the whole tokenize+hash pipeline on one task slot, and no
    downstream exchange can recover the lost wall-clock. One round-robin
    shuffle of the raw rows (KBs here) unlocks every core. No-op when the
    scan is already wide — at real scale a 100 TB table has thousands of
    row-groups, so this never fires there; it is the same
    runtime-statistics adaptation as AQE, aimed at the opposite corner
    (too FEW partitions before the first exchange, which AQE cannot see).
    ``getNumPartitions`` converts the plan but launches no job.

    Not for a numpy model scan (``operators/ann.py:_model_scan``): its
    kernel does milliseconds of work per batch, so the shuffle's extra
    stage and Python tasks cost more than the cores it unlocks."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


#: One Python worker runs per task slot; a BLAS that also fans out N
#: threads per worker oversubscribes the box by the slot count and turns the
#: Pandas-UDF operators (embedding tiles, grouped maps) into lock convoys
#: with wildly bimodal latency. Pin library-internal pools to 1 thread —
#: parallelism comes from Spark's partitioning, not from nested BLAS.
_WORKER_THREAD_ENV = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}


#: The subset of _RUNTIME_CONF whose drift silently breaks oracle parity
#: (timezone-sensitive timestamps, Arrow batch semantics for Pandas UDFs).
#: The rest are performance-only: drift there costs latency, not answers.
_PARITY_CONF_KEYS = (
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
)


def reassert_parity(spark: SparkSession) -> None:
    """Re-verify the parity-critical confs on a memoized-prepped session.

    prep() runs once per session object, but the module contract says the
    driver reuses ONE session across every query — if anything outside our
    control mutates e.g. session.timeZone between queries, the memo would
    turn prep() into a silent no-op and oracle parity would break with no
    error. The registry wrapper calls this at every declared-query entry:
    one py4j get per key here (2 keys), a set only on actual drift, versus
    the full conf sweep per table read that the memo exists to avoid.

    The RuntimeError below is deliberate and safe to keep unconditional
    (ADVICE r7 asked for confirmation): both _PARITY_CONF_KEYS are dynamic
    SQL confs — ``SQLConf`` entries, not ``StaticSQLConf`` — on every
    Spark this package supports (3.x and 4.x), so ``conf.set`` cannot
    fail for being static; tests/test_round6.py pins
    ``spark.conf.isModifiable(k)`` for both keys on the running build.
    The raise is therefore reachable only when something is genuinely
    wrong (a security-locked conf via ``spark.sql.conf.modifiable`` deny
    lists, a broken py4j bridge) — exactly the cases where limping on
    would grade wrong answers.
    """
    for key in _PARITY_CONF_KEYS:
        want = _RUNTIME_CONF[key]
        # the get must not be guarded: both keys exist on every supported
        # build, and swallowing a get failure here would silently disable
        # the exact parity check this function exists to perform.
        if spark.conf.get(key, None) != want:
            try:
                spark.conf.set(key, want)
            except Exception as exc:
                # both keys are runtime-settable on all supported builds;
                # a failed repair means parity is genuinely broken for
                # every subsequent query — fail loud, don't limp on.
                raise RuntimeError(
                    f"parity-critical conf {key!r} drifted to "
                    f"{spark.conf.get(key, None)!r} (want {want!r}) and "
                    "could not be restored"
                ) from exc


def prep(spark: SparkSession) -> SparkSession:
    """Apply runtime configs to an existing session (driver's or ours).

    Memoized per session object: tables.load calls this on EVERY table
    read, and each conf.set is a py4j round-trip — ~20-100 ms per query
    of pure dispatch across a 166-key run. The applied values are fixed
    for the session's life, so once a session is prepped there is nothing
    to re-apply (conf_override restores what it changes). The shuffle
    width is set here alone, to the task slots :func:`widen_scan` also
    fans out to (see the module notes)."""
    if getattr(spark, "_bdl_prepped", False):
        return spark
    width = str(spark.sparkContext.defaultParallelism)
    for key, value in {
        **_RUNTIME_CONF, "spark.sql.shuffle.partitions": width
    }.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # not runtime-settable on this build; builder default applies
    try:
        # sc.environment is copied into every PythonFunction's envVars at
        # UDF pickle time, so this reaches workers even on a session whose
        # JVM we didn't launch (the grading driver's).
        spark.sparkContext.environment.update(_WORKER_THREAD_ENV)
    except Exception:
        pass
    if not getattr(spark, "_bdl_pyfiles_added", False):
        spark.sparkContext.addPyFile(_package_zip())
        spark._bdl_pyfiles_added = True  # noqa: SLF001 - per-session marker
    spark._bdl_prepped = True  # noqa: SLF001 - per-session marker
    return spark


def get_spark(app_name: str = "billing-data-loader-spark") -> SparkSession:
    """Build (or join) the shared local session used by tests and bench."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    for key, value in _WORKER_THREAD_ENV.items():
        # before JVM launch: the JVM (and the Python workers it forks)
        # inherit the process environment
        os.environ.setdefault(key, value)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("BDL_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers: the package's daemon (module notes), importing
        # the package from the zip (a local master: a path on this host)
        .config(
            "spark.python.daemon.module",
            "billing_data_loader_spark.worker_daemon",
        )
        .config("spark.executorEnv.PYTHONPATH", _package_zip())
        # STATIC conf (builder-only): the generated-class cache defaults to
        # 100 entries, and a 166-query workload cycles hundreds of distinct
        # codegen stages through it — every re-run of a query then
        # recompiles its stages from scratch (janino is 0.5-2 s for the
        # wide near-dup stages; the measured first-run-in-context penalty
        # on ext_dedup_cluster decayed 5.9 -> 2.7 s purely with
        # repetition). Sized to hold the whole catalog's stages with
        # headroom (205 keys x ~5-10 stages at round 9; 2000 had become
        # borderline as the catalog grew; 4096 again at 314 keys in
        # round 12 — the tell is a uniform +0.3-1s drift across
        # unrelated cheap agg keys in a full-catalog run).
        # 8192 -> 16384 at the 345-key catalog (round 13): the tell
        # reappeared as a uniform 1.5-2x drift band across unrelated
        # cheap agg/join keys in the full-catalog bench run.
        .config("spark.sql.codegen.cache.maxEntries", "16384")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return prep(spark)
