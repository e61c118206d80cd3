"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case and merely *also* works locally:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing)
* Arrow on (every Python UDF in this engine is a pandas/Arrow UDF)
* shuffle partitions sized by caller (waves are small early, huge late —
  AQE coalesces the small case, explicit repartition handles the huge one)
* a codegen cache big enough for a whole crawl pass (~240 classes)
* ``local[...]`` only: Python workers fork from ``course_scraper_spark.pyworker``
  and talk to the JVM over Unix-domain sockets in ``/tmp``. Each cuts the
  fixed cost of every Python UDF task (see that module). The workers get
  the package's parent directory on ``PYTHONPATH``, so they import it
  whatever the driver's working directory. Not set on a
  cluster: a package shipped by ``--py-files`` reaches a worker's path per
  task, after the daemon has started, and a daemon that cannot start fails
  every UDF. A cluster whose executors have the package installed can set
  the same three ``spark.python.*`` settings through ``extra_conf`` or
  ``spark-defaults.conf``.

:func:`local_frame` builds every DataFrame the engine makes from driver
rows.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType, StructType

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "course_scraper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the driver's bench harness controls parallelism.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of tiny wave shuffles + skew-join splitting
        # (backstop for mega-host skew; primary handling is explicit salting
        # in operators/frontier.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles by SIZE, not down-to-parallelism: with
        # parallelismFirst (the default) every tiny stage keeps one task
        # per core, so iterative wave loops pay cores × stages × waves in
        # pure task overhead — measured 3× wall-clock at local[32] on the
        # scaling bench. Size-based coalescing gives big stages plenty of
        # partitions anyway.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # All Python in this engine is Arrow-batched pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Keep the UI off in the sandbox; a real cluster would leave it on.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # the default 100 entries is fewer than one crawl pass compiles, so
        # every later pass or round recompiled all of them
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    if master.startswith("local"):
        builder = (
            builder.config("spark.python.daemon.module", "course_scraper_spark.pyworker")
            .config("spark.python.unix.domain.socket.enabled", "true")
            # Spark defaults the socket dir to java.io.tmpdir; a long one
            # overflows the ~108-byte AF_UNIX path limit
            .config("spark.python.unix.domain.socket.dir", "/tmp")
            # workers import this package whatever the driver's cwd
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in ``schema`` order),
    ``schema`` a DDL string or StructType.

    Built from an Arrow table, it stays in the plan as a ``LocalRelation``
    and never runs Python. ``createDataFrame(<list>)`` instead ships
    pickled rows through a Python RDD, whose workers come from a second
    daemon with its own pool (the RDD worker key differs from the SQL
    UDFs'). Nulls in a non-nullable field raise ``ValueError``."""
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=to_arrow_type(f.dataType)) for c, f in zip(cols, struct.fields)],
        names=struct.names,
    )
    return spark.createDataFrame(table, struct)
