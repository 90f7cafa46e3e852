from octosql_spark.functions.registry import FUNCTIONS, FunctionDef  # noqa: F401
