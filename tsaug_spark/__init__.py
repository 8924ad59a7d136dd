"""tsaug_spark — a PySpark-native time-series rollup / downsample / retention
engine over tables of multi-turn conversation transcripts.

Built from scratch on the Spark DataFrame API (Catalyst + Arrow-vectorized
pandas kernels).  The retention-tier downsamplers reimplement the operator
semantics of the reference augmentation library ``arundo/tsaug`` (see
/root/reference/src/tsaug/_augmenter/) bit-exactly as NumPy kernels that run
per-conversation inside ``applyInPandas``.

Layers
------
* ``tsaug_spark.operators`` — the ten tsaug-parity series operators
  (Pool, Resize, Quantize, Dropout, Crop, Reverse, Convolve, Drift,
  AddNoise, TimeWarp) plus composition (``+``, ``*``, ``@``).
* ``tsaug_spark.plans``     — Catalyst-native relational plans: tumbling
  window rollups (1m -> 1h -> 1d continuous aggregates), gap-fill
  (locf + linear interpolation), salted skew-aware aggregation, and the
  long<->packed series conversion used by the kernel layer.
* ``tsaug_spark.codec``     — Gorilla XOR float compression and
  delta-of-delta timestamp packing as vectorized NumPy bit-twiddling.
* ``tsaug_spark.sources``   — table-format abstraction (Iceberg in prod,
  Parquet + snapshot manifest in-sandbox) and resumable checkpoints with
  per-partition lineage + metrics.
* ``tsaug_spark.pipeline``  — training-data-pipeline operators over
  document / embedding tables: dedup (exact, MinHash-LSH, SimHash,
  n-gram Jaccard, embedding cosine), similarity search, text analysis,
  multimodal column plumbing.
"""

from tsaug_spark.operators import (
    AddNoise,
    Convolve,
    Crop,
    Drift,
    Dropout,
    Pool,
    Quantize,
    Resize,
    Reverse,
    TimeWarp,
)
from tsaug_spark.session import get_spark, skip_unchanged_zip_rereads

# every Python worker imports the package when it unpickles an engine
# kernel, so this reaches the workers that run them
skip_unchanged_zip_rereads()

__version__ = "0.1.0"

__all__ = [
    "AddNoise",
    "Convolve",
    "Crop",
    "Drift",
    "Dropout",
    "Pool",
    "Quantize",
    "Resize",
    "Reverse",
    "TimeWarp",
    "get_spark",
    "__version__",
]
