"""logdag_spark — a PySpark-native rebuild of the amulog/logdag pipeline.

The engine is a library of composable DataFrame stages:

    parse -> enrich -> route -> aggregate -> filter_series -> correlate
          -> prune (PC) -> assemble DAG -> query surface

Reference semantics: amulog/logdag (see /root/reference, cited per-module
as file:line).  Architecture is Spark-first (DataFrame/SQL + Catalyst), not
a port: the reference's eager pandas loops become lazy declarative plans,
its multiprocessing.Pool over (window x area) units becomes plain
DataFrame partition parallelism, and its per-series numpy kernels become
Arrow-batched Python kernels (``mapInArrow`` for the series filter,
``applyInPandas`` grouped maps per unit).
"""

__version__ = "0.1.0"
