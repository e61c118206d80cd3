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
  fixed cost of every Python UDF task (see that module). Not set on a
  cluster: a package shipped by ``--py-files`` reaches a worker's path per
  task, after the daemon has started, and a daemon that cannot start fails
  every UDF. A cluster whose executors have the package installed can set
  the same three ``spark.python.*`` settings through ``extra_conf`` or
  ``spark-defaults.conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
