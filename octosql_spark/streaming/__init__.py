from octosql_spark.streaming.counting_trigger import (  # noqa: F401
    counting_trigger_aggregate,
)
