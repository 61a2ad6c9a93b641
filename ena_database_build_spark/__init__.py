"""ena_database_build_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of EnzymeFunctionInitiative/ENA_Database_Build.

The reference (read-only at /root/reference) is a Dask-orchestrated,
row-at-a-time EMBL flat-file ETL pipeline. This package re-expresses the
same semantics as declarative Spark DataFrame plans:

- ``sources``   — ordered-line ingest of gzipped EMBL flat files, the
                  idmapping lookup table, and TSV/parquet sinks
                  (reference: ena_build/dask_tasks.py, mysql_database.py).
- ``functions`` — the four reference regexes (ena_build/parse_embl.py:16-47)
                  as Column expressions, and the linear/circular
                  location-span resolver (ena_build/parse_embl.py:364-441)
                  in Python and Column forms.
- ``operators`` — the reference's per-line state machine
                  (ena_build/parse_embl.py:444-570), run once per file in
                  one ``mapInArrow`` pass, plus LLM-data-pipeline
                  extensions (dedup, similarity, text analysis,
                  multimodal) that the reference lacks.
- ``plans``     — composed end-to-end pipelines (files -> ena.tab).
- ``streaming`` — Structured Streaming variants over event streams.

Everything is built on DataFrame/Catalyst, except the EMBL parse: one
Arrow-batched Python pass per file replaces a whole chain of windows,
aggregations and joins.  No Python row-at-a-time UDFs.
"""

__version__ = "0.1.0"
