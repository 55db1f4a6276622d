"""Operator implementations live in the engine core modules; this package
maps the SURVEY.md §2 inventory to code for reviewers:

2A (reference-implemented, re-expressed):
  A1-A11  sources/spreadsheet.py, sources/datatypes.py, corpus.py
  A12-A15 catalog.py (batched snapshot writes, clear/append lifecycle)
  A16     catalog.IndexStore.log_metrics + build.py Observations
  A19     index.py (CLI)
  A22     corpus.synthesize_corpus

2B (delegated to Elasticsearch, built from scratch here):
  B1      tokenizer.py
  B2      codec.py + build.encode_postings (Spark groups by
          (term, salt); build._encode_groups encodes per batch)
  B3      streaming/incremental.py (append + merge_segments)
  B4      build.py terms/stats stages
  B5      build.py salting plan (df-threshold -> salted sub-lists)
  B6      codec.bm25_idf/bm25_impact + query.py
  B7      query._and_score
  B8      wand.py (block-max WAND)
  B9      wand/query top-k + search_distributed ORDER BY ... LIMIT
  B10     ingest transform hook (build over any pre-transformed corpus DF)
  B11     catalog drop/append + fingerprinted stage lineage

Training-data pipeline additions: functions/ (dedup, similarity, text,
multimodal).
"""

from excelastic_spark.build import IndexBuilder
from excelastic_spark.query import QueryEngine
from excelastic_spark.streaming.incremental import IncrementalIndexer

__all__ = ["IndexBuilder", "QueryEngine", "IncrementalIndexer"]
