"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same builder settings apply (AQE, Arrow, sane shuffle partitioning) — only
``master`` changes. All defaults are chosen for the 100 TB design point:
AQE handles skew/coalesce at runtime, Arrow keeps the three Python
boundaries batched, and shuffle partitions track the parallelism actually
available rather than a fixed 200.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_sources(pkg_dir: str) -> list[str]:
    """Every ``.py`` file under ``pkg_dir``, in a fixed order."""
    return sorted(
        os.path.join(dirpath, fn)
        for dirpath, _, files in os.walk(pkg_dir)
        for fn in files
        if fn.endswith(".py")
    )


def _package_zip_name(pkg_dir: str, sources: list[str]) -> str:
    """File name of the shipped package zip: a digest of each source's
    path and contents, so editing any module (however deeply nested)
    names a new zip and workers never import a stale copy."""
    h = hashlib.sha256()
    for full in sources:
        h.update(os.path.relpath(full, pkg_dir).encode() + b"\0")
        with open(full, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return f"ade_pkg_{h.hexdigest()[:16]}.zip"


def ensure_package_shipped(spark: SparkSession) -> None:
    """Normalize a (possibly externally-created) session for this engine.

    1. Pin ``spark.sql.session.timeZone`` to UTC — fixture timestamps are
       timezone-naive, and window/date_trunc/date_format results are
       session-tz-dependent; a host session in another zone would silently
       shift every timestamp result away from the UTC-naive oracle.
    2. Make this package importable on executors' Python workers:
       UDF/mapInPandas closures pickle functions *by module reference*, so
       workers must import the package themselves. On a cluster this ships
       a zip via ``addPyFile`` (same mechanism as ``--py-files``); in
       local mode it also covers driver scripts launched from a different
       working directory.

    Idempotent per session.
    """
    key = "spark.ade.package.shipped"
    try:
        if spark.conf.get(key, None):
            return
    except Exception:  # noqa: BLE001
        pass
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    sources = _package_sources(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), _package_zip_name(pkg_dir, sources))
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in sources:
                z.write(full, os.path.relpath(full, root))
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    spark.conf.set(key, "true")


# S7 — env_config_source (micro-infobot/app.py:22, 54, 122, 249): the
# reference pulls MONGO_URI / OPENAI_API_KEY via load_dotenv + os.getenv
# with hardcoded fallbacks. Re-expressed as a spark.conf settings namespace:
# same key → default contract, but session-scoped, inspectable, and
# cluster-propagated instead of process-env-dependent.
CONF_DEFAULTS = {
    "spark.ade.mongo.uri": "mongodb://localhost:27017",  # app.py:54-58
    "spark.ade.mongo.db": "db-historial-chats",  # app.py:59
    "spark.ade.mongo.collection": "coleccion-histochats",  # app.py:59
    "spark.ade.llm.model": "gpt-4-turbo",  # app.py:247
    "spark.ade.embed.dim": "1536",  # app.py:122 (ada-002)
    "spark.ade.chunk.size": "500",  # app.py:117
    "spark.ade.chunk.overlap": "50",  # app.py:118
}


def config_source(spark: SparkSession):
    """S7 — resolve every engine setting: session conf wins, else default.

    Returns (key, value, is_default) rows, deterministic under a fresh
    session (all defaults). Mirrors ``os.getenv(key, fallback)``.
    """
    rows = []
    for k, default in sorted(CONF_DEFAULTS.items()):
        try:
            cur = spark.conf.get(k, None)
        except Exception:  # noqa: BLE001
            cur = None
        rows.append((k, cur if cur is not None else default, cur is None))
    return spark.createDataFrame(
        rows, "key string, value string, is_default boolean"
    )


def get_spark(
    app_name: str = "ade-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # write timestamps as TIMESTAMP_MICROS, not the legacy INT96
        # default: INT96 footers read back as timestamp[ns] in pyarrow,
        # which is indistinguishable from the driver fixtures' raw-nanos
        # layout and breaks catalog._events_ts_unit's footer dispatch on
        # engine-written corpora (and INT96 is deprecated everywhere)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("ADE_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_package_shipped(spark)
    return spark

