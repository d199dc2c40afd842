"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness at local[*] test scale while keeping
settings that carry to a 1000-executor cluster: AQE on (skew-join
splitting + partition coalescing), Arrow transport for every pandas UDF,
and an explicit shuffle-partition count (callers size it to the data).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crawlers-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    """
    if master is None:
        # honor a launcher-provided master (spark-submit --master sets
        # spark.master through system properties; overriding it here
        # would silently turn a cluster launch back into local mode)
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
            master = f"local[{cpus}]"

    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.io.compression.codec", "lz4")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark


def build_pyfiles_zip() -> str | None:
    """Zip the installed crawlers_spark package for ``--py-files`` /
    ``addPyFile`` shipping; returns the zip path, or None when the
    package is ITSELF running from a zip archive (a spark-submit
    --py-files launch) — in that case executors already received the
    archive from spark-submit and there is nothing on disk to walk."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = {}
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                with open(full, "rb") as f:
                    sources[os.path.relpath(full, pkg_dir)] = f.read()
    if not sources:  # zipimport: __file__ points inside an archive
        return None
    # name the zip by the sources it holds: every checkout on a host shares
    # $TMPDIR, and executors must unpickle against exactly this checkout's
    # package (not another checkout's, nor one with a deleted module)
    digest = hashlib.sha256()
    for rel in sorted(sources):
        data = sources[rel]
        digest.update(b"%s\0%d\0" % (rel.encode(), len(data)) + data)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"crawlers_spark_pyfiles-{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel in sorted(sources):
                zf.writestr(os.path.join("crawlers_spark", rel), sources[rel])
        os.replace(tmp, zip_path)
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Ship crawlers_spark to executors (the --py-files equivalent).

    Zips the package and registers it with ``addPyFile`` so Python
    workers can unpickle our pandas UDFs regardless of driver cwd — the
    same mechanism ``spark-submit --py-files crawlers_spark.zip`` uses on
    a multi-executor cluster (north_rule launch requirement). No-op when
    the package already arrived via spark-submit --py-files."""
    zip_path = build_pyfiles_zip()
    if zip_path is not None:
        spark.sparkContext.addPyFile(zip_path)
