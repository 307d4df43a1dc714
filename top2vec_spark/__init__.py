"""top2vec_spark — PySpark-native inverted-index + BM25 retrieval engine.

A from-scratch rebuild of the document-retrieval backbone of
ddangelov/Top2Vec (reference surveyed in SURVEY.md) as an idiomatic
PySpark engine: Arrow-vectorized tokenization (byte-identical to the
reference tokenizer, top2vec/top2vec.py:117-131), posting-list
construction with docID-delta + varint/Elias-gamma block compression,
salted repartition-by-term skew handling, and block-max WAND top-k over
BM25 (k1=1.2, b=0.75).

Importing the package gates ``zipimporter`` directory re-reads
(``session.gate_zip_invalidation``): every Spark worker that unpickles
one of the engine's kernels imports it, so its later Python tasks skip
re-parsing the zip and jar archives on ``sys.path``.
"""

from top2vec_spark.config import BM25Config
from top2vec_spark.api import Top2VecSpark
from top2vec_spark.session import gate_zip_invalidation

gate_zip_invalidation()

__version__ = "0.1.0"
__all__ = ["Top2VecSpark", "BM25Config", "__version__"]
