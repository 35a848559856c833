"""sales_etl_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the capability surface of the
reference ETL (``erxaan/sales-etl``, surveyed in ``SURVEY.md``): typed
sources, cleaning operators, aggregate marts, joins, top-k ranking,
upsert-semantics sinks — plus large-scale LLM-data-pipeline operators
(deduplication, similarity search, text analysis, multimodal columns)
and event-time windowing, all in the public DataFrame/SQL API so
Catalyst + AQE own the physical plan.

Design stance (SURVEY.md §7.0):

- every operator is a pure function ``DataFrame -> DataFrame`` (lazy);
- explicit schemas at the source, explicit casts at the sink;
- no hidden ``today()`` — snapshot dates are parameters;
- money arithmetic goes through DECIMAL(18,2) so distributed sums are
  exact and reproducible regardless of partitioning/order (a float
  sum over a different partitioning is a different number — at 100 TB
  that is not a rounding nit, it is nondeterminism);
- UDFs only where no built-in expression exists, and then always
  Arrow-batched (pandas_udf / ``operators.multimodal.row_kernel``
  over mapInArrow), never a row-at-a-time Python UDF.
"""

__version__ = "0.1.0"
