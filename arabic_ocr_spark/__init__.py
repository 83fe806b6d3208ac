"""arabic_ocr_spark — a from-scratch PySpark-native main-content extraction
engine with the query/data-processing capabilities of the reference
(Kareem-Emad/arabic-ocr), re-expressed Spark-first.

Layout
------
kernel/     pure-NumPy per-payload extraction kernel (no Spark, no cv2)
sources/    payload codec, synthetic fixture/table generators
operators/  DataFrame-level training-data pipeline operators (dedup,
            similarity search, text analysis)
streaming/  Structured Streaming variant of the extraction job
job.py      the batch extraction job: scan -> prune -> salted chunk ->
            placement by chunk id -> sortWithinPartitions ->
            mapInPandas(kernel) -> checkpointed write + per-partition lineage
training.py distributed training job producing the classifier model artifact

Importing the package installs `_zipcache` (a no-op on Python 3.13+): every
engine UDF unpickles engine code, so each reused Spark Python worker stops
re-reading its zip archives on every task from its first engine task on.
"""

from . import _zipcache

_zipcache.install()

__version__ = "0.1.0"
