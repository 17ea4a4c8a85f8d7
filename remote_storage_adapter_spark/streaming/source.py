"""The file source every streaming maintainer reads its landing
directory through.

Each trigger hands the file source up to ``maxFilesPerTrigger`` paths
that it has already listed, and ``getBatch`` builds a file index over
them. When that list is longer than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default
32), the index lists the paths again with a parallel Spark job: one
job a trigger that finds nothing new. The source reads the threshold
from the session it was created in, at every trigger, so setting and
restoring the conf around ``start()`` does not help. :func:`file_stream`
creates the source in a session of its own instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def file_stream(spark: SparkSession, schema: StructType, path: str, *,
                fmt: str, max_files_per_trigger: int) -> DataFrame:
    """A streaming read of ``fmt`` files under ``path``, at most
    ``max_files_per_trigger`` files a trigger.

    The source is created in a clone of ``spark`` (the clone a started
    query makes of its session), so every runtime conf the caller set
    before this call carries over to the listing and the file reads.
    Only the clone raises the parallel-listing threshold, to at least
    ``max_files_per_trigger``, so a trigger's files are never listed
    by a Spark job. The returned frame belongs to ``spark`` itself: a
    query started from it is listed in ``spark.streams`` and reported
    to its listeners, and its micro-batches run in a clone of
    ``spark``, with the caller's threshold. The caller's session is
    left unchanged.

    The trade-off: a trigger's files are listed again on the driver,
    one status call per file. That is cheap on a local or HDFS disk.
    On an object store each call is a request, and a wide trigger pays
    them one after another where the listing job spread them over
    tasks.
    """
    source_spark = SparkSession(spark.sparkContext,
                                spark._jsparkSession.cloneSession())
    threshold = int(spark.conf.get(LISTING_THRESHOLD))
    source_spark.conf.set(LISTING_THRESHOLD,
                          max(threshold, max_files_per_trigger))
    source = (
        source_spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .format(fmt)
        .load(path)
    )
    # Re-root the streaming plan in the caller's session: the plan's
    # source keeps the clone, the query gets the caller's ``streams``.
    jdf = spark.sparkContext._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, source._jdf.logicalPlan())
    return DataFrame(jdf, spark)
