"""dbpedia_spotlight_spark — a PySpark-native entity-resolution engine.

A from-scratch record-linkage pipeline with the query/data-processing
capabilities of DBpedia Spotlight (reference: dbpedia-spotlight/dbpedia-spotlight
v0.7.1), re-expressed Spark-first:

    documents --(broadcast Aho-Corasick in Arrow pandas UDF)--> mentions
             --(equi-joins on stats tables)--> mention_candidates
             --(log-domain generative context scoring, pure column math)--> scored
             --(window rank + NIL gate + softmax)--> linked_mentions
             --(one star per resolved URI)--> edges
             --(large-star/small-star connected components)--> clusters

Everything is DataFrame-declarative; Python appears only in Arrow-batched
pandas UDFs (the automaton scan and tokenizer). Checkpoints go to Iceberg
when an Iceberg catalog is configured, else to parquet with an atomic
manifest (sandbox fallback).
"""

__version__ = "0.1.0"
