"""DataFrame combinators for the reference operators that Spark SQL
text cannot express as-is (SURVEY.md §2). Plain relational operators
(joins, set ops, DISTINCT, ORDER BY/LIMIT) are written as SQL text and
compiled by Catalyst. What stays here pins down the *reference's
semantics* where a bare Spark call would differ (key extraction rules,
null handling, naming, the size-gated lookup-join broadcast) while
letting Spark pick the physical strategy.
"""

from octosql_spark.operators.joins import (  # noqa: F401
    stream_join, lookup_join, anti_join,
)
from octosql_spark.operators.aggregate import group_by, AGGREGATES  # noqa: F401
from octosql_spark.operators.unnest import unnest  # noqa: F401
from octosql_spark.operators.runtime_filter import (  # noqa: F401
    build_key_bloom, bloom_might_contain, bloom_prefilter_join,
)
