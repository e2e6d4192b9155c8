"""autoextraction_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
EZ-hwh/AutoExtraction (ACL'23 *Adaptive Ordered Information Extraction*).

Reference behavior (see /root/reference, cited per-module as file:line) is
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst, with
Arrow-vectorized pandas UDFs only where built-in operators cannot express
the semantics (the span scorer / slot-ordering policy).

Pipeline stages (SURVEY.md §7):
  A. text extraction      operators/text_extract.py   (html -> text, byte-identical)
  B. relation detection   operators/detect.py         (RC gate, predict.py:145-146)
  C. ordered slot filling operators/slot_fill.py      (Environment.py step/fork loop)
  D. output semantics     operators/output.py         (completed filter, triples, F1)
  E. entity linking       operators/linking.py        (MinHash/LSH blocking)
  F. canonicalization     operators/canonicalize.py   (connected components)
  G. materialization      pipeline.py, store.py       (KgPipeline stages text → triples →
                                                       linking_map → canonical, each a
                                                       store.stage: _stage/_part_id lineage,
                                                       manifest at stage=<name>/_manifest.json;
                                                       canonical triples partitioned by pred)
A-D run as one chain per input: pipeline.skeleton_triples (doc skeleton)
and pipeline.text_triples (extracted text).
Plus training-data-pipeline operators: dedup.py, similarity.py,
textstats.py, multimodal.py.
"""

__version__ = "0.1.0"
