"""glug_spark — a PySpark-native inverted-index + BM25 full-text engine.

Re-expresses the query semantics of the reference engine (dkaszews/glug,
a C++20 gitignore-exact file lister with glob→regex pattern matching;
see /root/reference) as an offline inverted-index build plus BM25 top-k
query layer over web-scale document tables, built Spark-first:

- ``glug_spark.semantics``  — pure-Python semantic kernel (glob dialects,
  typetags, last-match-wins filters, tokenizer, extractor). Plan-time only;
  byte-parity with the reference, validated by ported golden tables.
- ``glug_spark.corpus``     — deterministic Common-Crawl-shaped corpus
  (url, warc_ts, html, text, lang) derivation/generation.
- ``glug_spark.index``      — tokenize → postings → stats → encoded
  posting lists (delta-gap + varbyte + block-max), checkpointed writes.
- ``glug_spark.query``      — query parsing (glug dialect), BM25 scoring,
  top-k, phrase matching, block-max WAND.
- ``glug_spark.operators``  — dedup (exact/MinHash-LSH/SimHash/Jaccard),
  similarity search, text analysis, multimodal plumbing.

Every engine kernel shipped to a Spark Python worker imports this
package, so importing it there installs :mod:`glug_spark.zipcache`: the
worker's later tasks stop re-reading ``pyspark.zip`` and the Spark jar.
"""

from glug_spark import zipcache

__version__ = "0.2.0"

zipcache.install()
