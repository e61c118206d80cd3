"""course_scraper_spark — a PySpark-native crawl / extract / store engine.

A from-scratch Spark re-design of the capabilities of the reference
single-process asyncio crawler (EPRIweber/course-scraper):

* URL frontier + BFS wave scheduler  -> :mod:`course_scraper_spark.operators.frontier`
* per-host politeness scheduling      -> :mod:`course_scraper_spark.operators.politeness`
* JSON-CSS span extraction            -> :mod:`course_scraper_spark.operators.spans`
* course merge / upsert semantics     -> :mod:`course_scraper_spark.operators.merge`
* dedup / similarity / text analysis  -> :mod:`course_scraper_spark.operators.dedup`,
                                         :mod:`course_scraper_spark.operators.similarity`,
                                         :mod:`course_scraper_spark.operators.textstats`
* snapshot-table storage (Iceberg-style semantics over parquet)
                                      -> :mod:`course_scraper_spark.storage.snaptable`

Everything is DataFrame-first: Catalyst plans the relational work, Python
only runs inside Arrow-batched pandas UDFs (never per-row).
"""

__version__ = "0.1.0"
