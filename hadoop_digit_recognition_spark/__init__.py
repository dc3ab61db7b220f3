"""PySpark-native analytics engine with the query / data-processing
capabilities of Anushri1206/Hadoop-Digit-Recognition (a Hadoop-MapReduce
stacked-RBM digit-recognition pipeline), re-expressed Spark-first.

Layout
------
- ``session``    : SparkSession factory tuned for local[32] testing, 100 TB posture documented.
- ``tables``     : loaders for the synthetic star schema + events/documents/embeddings.
- ``functions``  : column-level math/vector helpers (sigmoid, normalize, dot, cosine).
- ``operators``  : relational, array, dedup, similarity, text, as-of, multimodal operators.
- ``rbm``        : CD-1 contrastive-divergence engine (mapInArrow + NumPy), DBN stacking,
                   forward prop — the reference's core workload (rbmmapper.java, driver.java).
- ``streaming``  : event-time windows (tumbling/sliding/session) + watermark demos.
- ``plans``      : plan-inspection helpers (pushdown / broadcast / codegen assertions).
- ``shipping``   : ships the package to Python workers and, before Python 3.12,
                   keeps them from re-parsing unchanged zip archives every task.

All heavy math rides Spark built-ins or Arrow-batched Python (pandas or
Arrow UDFs); no row-at-a-time Python UDFs in any hot path.
"""

from . import shipping  # noqa: F401  (importing it installs the zip re-read fix)

__version__ = "0.1.0"
