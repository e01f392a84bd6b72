"""osmcoastline_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of osmcode/osmcoastline
(reference at /root/reference, studied for behavior only) as an idiomatic
Spark DataFrame pipeline:

* grid/Z-order cell encoding for all spatial self-joins (no native geo deps),
* ring assembly as an iterative endpoint equi-join fixpoint,
* batched point-in-polygon / segment-intersection as vectorized numpy kernels
  inside mapInArrow stages (one Arrow codec in util.py),
* quadtree-style polygon split + land/water tiling,
* plus the large-scale training-data operators (dedup, similarity search,
  text analysis, multimodal columns) a 100 TB pipeline needs.

Everything here is public-knowledge PySpark; geometry kernels are pure numpy.
"""

__version__ = "0.1.0"

from osmcoastline_spark.session import get_spark  # noqa: F401
