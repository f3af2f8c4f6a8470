"""SparkSession builder with engine defaults.

No module-level SparkSession (spark-submit --py-files friendly,
SURVEY.md §7.0). Defaults tuned for the match workload:

- AQE on (runtime join re-planning + skew-join splitting — the engine's
  blocked joins can be skewed on hot blocking keys);
- Arrow on (pandas-UDF scorers are Arrow-batched);
- shuffle partitions sized by caller (cluster: ~2-3x total cores;
  tests: small to avoid tiny-task overhead);
- generated-class cache of 1000 entries (Spark's default is 100). A
  stream fold's plans compile ~160 distinct classes, so the default LRU
  evicted each class before the next fold could reuse it and every fold
  recompiled them. The cache is a static conf: it takes effect only when
  the session is built, which is why it is set here.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "record_matcher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # static: must be set at build; see the module docstring
        "spark.sql.codegen.cache.maxEntries": "1000",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
