"""Query corpus: one named query per operator row of SURVEY §2 (FIXTURES.md
§C), each with a Spark DataFrame implementation and (where SQL-expressible)
a DuckDB oracle SQL string.  ``plans.registry.REGISTRY`` lists them all."""

from jurimetria_etl_spark.plans.corpus import oracle_sql_map, query_map  # noqa: F401
