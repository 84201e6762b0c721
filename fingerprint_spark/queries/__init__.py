"""The driver-contract queries, one module per family.

Each family module ends in one ``QUERIES = {name: (q_fn, sql_fn)}``
table: ``q_fn(spark, sf_dir)`` builds the Spark DataFrame and
``sql_fn()`` returns its DuckDB oracle SQL, or is None for a rows-only
query. ``entry_queries`` merges the tables.
"""
