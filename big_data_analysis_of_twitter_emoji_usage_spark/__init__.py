"""PySpark-native analytics engine with the query and data-processing
capabilities of christian-palko/Big-Data-Analysis-of-Twitter-Emoji-Usage.

The reference is a seven-module Scala/Spark-2.4 suite answering seven
Twitter-emoji analytics questions (batch + Structured Streaming). This
package re-expresses every capability Spark-first on PySpark 4:

- ``core``              session factory tuned for large-cluster defaults
- ``schemas``           declared StructType schemas for the six tweet shapes
- ``functions.emoji``   the emoji-extraction kernel (reference q1:97-113)
- ``functions.text``    the q3 word tokenizer (reference q3:166-176)
- ``sources``           batch/stream readers, rolling-JSONL ingester, and
                        partitioned/bucketed Parquet writers
- ``operators``         dedup (exact/MinHash-LSH/SimHash/n-gram/embedding,
                        connected-component clusters), ANN search (cosine),
                        as-of join, sessionization, text analysis,
                        multimodal binary-column plumbing
- ``plans``             the seven reference question builders + the full
                        query catalog (44 queries, DuckDB oracles)
- ``streaming``         the same builders on unbounded sources, plus
                        watermarked windows, stream-stream joins, streaming
                        dedup, and applyInPandasWithState sessionization
"""

__version__ = "0.1.0"

from big_data_analysis_of_twitter_emoji_usage_spark.core import get_spark  # noqa: F401
