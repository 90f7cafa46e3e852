"""octosql_spark — a PySpark-native analytics engine with the query
surface of cube2222/octosql (the reference lives at /root/reference,
studied in SURVEY.md; all ``file:line`` citations in docstrings are
relative to that tree).

Design (SURVEY.md §7): the reference's value is its *semantics and SQL
surface* — its mechanisms (push pipeline, btrees, retractions, its
8-rule optimizer) are what Spark/Catalyst already provide. So this
package is a thin, Spark-first layer:

- ``session``     — tuned SparkSession factory (AQE, Arrow, UTC).
- ``sources``     — csv/json/lines/parquet/stdin/memory readers with
                    octosql-style sampled schema inference.
- ``operators``   — DataFrame combinators for the §2 operators SQL
                    text cannot express as-is (key-pair and lookup
                    joins, group-by w/ the reference's aggregate
                    catalog, unnest, global NTILE, temporal joins);
                    plain joins, set ops, DISTINCT and ORDER BY/LIMIT
                    are SQL text compiled by Catalyst.
- ``functions``   — the scalar function catalog (§2.7): names,
                    signatures and descriptions for the ``docs.*``
                    tables; ``sql`` compiles the calls.
- ``tvf``         — table-valued functions: range, tumble,
                    max_diff_watermark, poll (§2.8).
- ``plans``       — Graphviz rendering of Catalyst's analyzed plan
                    (``--explain-dot``); Catalyst is the optimizer.
- ``sql``         — the OctoSQL dialect front-end: tokenizer +
                    transpiler to Spark SQL (``->``, ``::``,
                    file-path tables, TVF keyword args, TRIGGER).
- ``streaming``   — the exact TRIGGER COUNTING operator; watermarks,
                    windows and stream joins are SQL (``sql``, ``tvf``)
                    and the TRIGGER → output-mode mapping is in ``cli``.
- ``sinks``       — table/csv/json/stream output + --describe.
- ``datapipe``    — large-scale training-data ops: dedup (exact,
                    MinHash-LSH, SimHash, n-gram Jaccard, embedding
                    cosine), ANN similarity search, text analysis,
                    multimodal column plumbing.
"""

from octosql_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
