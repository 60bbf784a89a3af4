"""apollo_service_spark — a PySpark-native crawl/analytics engine.

A from-scratch reimplementation of the computational capabilities of the
``BilalKhanT/apollo-service`` reference (a thread/queue FastAPI crawler) as an
idiomatic Spark engine: a distributed URL-frontier + fetch scheduler over a
Common-Crawl-style pages table, vectorized Arrow/pandas UDFs for HTML→text
extraction and link extraction, Catalyst-native column expressions for every
filter/categorizer/year operator, a partitioned bloom-filtered URL-seen set,
per-host politeness budgets via window ranking, and snapshot-committed
checkpoints for mid-frontier resume.

Subpackages
-----------
``functions``  column expressions + pandas UDFs (urlkit, html, textstats)
``sources``    table loaders, synthetic corpus generator, snapshot store
``operators``  frontier engine, seen store, politeness, robots, clustering
``plans``      the queries()/oracle_sql() registry used by the driver
``oracle``     single-process reference simulator for crawl-equivalence tests
"""

__version__ = "0.1.0"
