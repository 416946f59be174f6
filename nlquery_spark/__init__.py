"""nlquery_spark: PySpark-native KG-construction engine.

A brand-new, Spark-first re-expression of nreco/nlquery's rule-based,
schema-aware NER (see SURVEY.md): a pure-Python parity kernel
(``nlquery_spark.kernel``) executed inside Arrow batches, plus
distributed operators (``nlquery_spark.operators``) for triple
extraction, entity linking, canonicalization, dedup and text analysis
over Common-Crawl-style page tables.
"""

__version__ = "0.1.0"
