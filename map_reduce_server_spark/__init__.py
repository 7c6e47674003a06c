"""map_reduce_server_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
MapReduce job server (``ChuckEugene/map_reduce_server``) on Apache
Spark, designed Spark-first:

- the reference's whole query surface (``pipe(mapper) -> sort ->
  group-partition -> pipe(reducer)``, see reference
  ``mapreduce/master/__main__.py:220-467``) is provided by
  :mod:`map_reduce_server_spark.mapreduce` on mapper/reducer
  subprocess pipes + ``repartitionAndSortWithinPartitions``;
- the relational operator library (scan/filter/project/join/agg/
  window/set-ops/...) lives in :mod:`map_reduce_server_spark.operators`
  as declarative DataFrame plans that Catalyst optimizes;
- LLM-data-pipeline operators (dedup, similarity search, text
  analysis, multimodal columns) live alongside them, each designed
  for 100 TB scale (no driver-side collects, shuffle-conscious).
"""

from map_reduce_server_spark.session import get_spark
from map_reduce_server_spark.tables import TABLES, load_table, register_views

__all__ = ["get_spark", "load_table", "register_views", "TABLES"]
__version__ = "0.1.0"
