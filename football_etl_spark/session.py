"""SparkSession factory with engine defaults.

The engine pins the handful of configs that its semantics rely on
(SURVEY.md §7.4):

- ``spark.sql.ansi.enabled=false`` — the reference's pandas
  ``to_numeric(errors='coerce')`` / permissive date parsing semantics
  (null-on-failure) require non-ANSI casts; the expression library
  additionally uses ``try_*`` forms so it stays correct either way.
- ``spark.sql.session.timeZone=UTC`` — oracle comparison against
  DuckDB's UTC-naive timestamps.
- AQE on — runtime partition coalescing + skew-join handling is the
  scale story for skewed keys (big leagues / hot customers).
- ``spark.sql.codegen.cache.maxEntries=4096`` — the JVM-wide LRU of
  compiled generated classes. Spark's default of 100 is far below the
  engine's working set, measured in one session at sf0.001: the first
  pass over all 230 registry entries compiles 2,685–2,710 distinct
  classes, the 13 perfbench headline queries ~215 and the etl ingest
  path ~90. At 100 entries a round-robin pass evicts every class
  before it is reused, so each warm call recompiles its classes
  through Janino (190 warm compiles per headline pass).
  ``bench.py`` never showed it because it runs each query three times
  back to back and those repeats always hit the cache; round-robin or
  mixed traffic exposes it. 4096 is the next power of two above the
  full-registry count. Metaspace stays in the same range either way
  (233–258 MB after two full-registry passes, capped at 100 or not),
  because evicted classes linger until they are unloaded. The conf
  is static and takes effect when the JVM builds its first generated
  class.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Worker threads for local mode (driver-set via SPARK_GRAFT_CPUS)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


_memo_app: str | None = None
_memo: dict = {}


def session_cache(spark: SparkSession) -> dict:
    """The driver-side memo bound to the live SparkContext.

    One dict holds everything the engine computes once per session:
    the registry's prepared plans and loaded tables, the control-plane
    values plan construction collects (eval shingle hashes, k-means
    centroids, the 8 ANN query rows, PQ codebooks, BPE rules, n-gram
    count checkpoints, ...), content-keyed broadcasts and the
    ``ship_package`` marker. Plans stay lazy — apart from the n-gram
    count checkpoints no data is cached, only analyzed DataFrames and
    driver-sized values — so a repeat call re-pays optimization, planning and execution but not
    py4j construction, Catalyst analysis or control-plane jobs (the
    prepared-plan part alone measured 3.65 s of a 12.6 s steady-state
    sf0.1 headline total).

    Contract: a value is computed once per (session, sf) and reused
    for the life of the session. A value derived from session config
    is snapshotted at first use — the graph panel's partition floor
    reads ``spark.sql.shuffle.partitions`` once, so a later in-session
    change to it is ignored. ``applicationId`` is unique per
    SparkContext, so when it changes the whole dict is replaced with
    a fresh one — the only eviction path — and a stopped-and-recreated
    session can never be handed its predecessor's plans or
    broadcasts."""
    global _memo_app, _memo
    app = spark.sparkContext.applicationId
    if app != _memo_app:
        _memo_app, _memo = app, {}
    return _memo


def ship_package(spark: SparkSession) -> None:
    """Distribute the engine's package source to executor Python
    workers — the in-process twin of ``spark-submit --py-files``.

    Code that pickles BY REFERENCE (Python DataSource classes,
    module-level helpers) needs ``football_etl_spark`` importable on
    the worker side; when the driver found the repo via ``sys.path``
    alone (foreign cwd, no PYTHONPATH export — exactly how the
    correctness driver invokes the contract module), workers cannot.
    Zipping the package once per process and ``addPyFile``-ing it puts
    the archive on every worker's ``sys.path`` before task
    deserialization. Marked in :func:`session_cache`; repeat calls
    for the same session are no-ops. On a real cluster the same archive rides
    ``--py-files``/``spark.submit.pyFiles`` and this helper is a
    harmless re-add."""
    import tempfile
    import zipfile

    memo = session_cache(spark)
    if memo.get("ship_package"):
        return
    app = spark.sparkContext.applicationId
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    zp = os.path.join(tempfile.gettempdir(), f"fes_pkg_{os.getpid()}.zip")
    # Always (re)build: an archive left by a recycled pid or an older
    # checkout must never ship stale code to executors. The build is
    # ~60 small files; os.replace keeps the publish atomic.
    tmp = f"{zp}.{app}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _, files in os.walk(pkg_root):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, parent))
    os.replace(tmp, zp)
    spark.sparkContext.addPyFile(zp)
    memo["ship_package"] = True


def get_spark(
    app_name: str = "football-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count — the right
    size for local mode; on a real cluster the engine relies on AQE
    coalescing from a larger initial number, so callers pass it
    explicitly there.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
