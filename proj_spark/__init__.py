"""proj_spark — a PySpark-native spatial-join + tiling engine.

Reimplements the query/data-processing capabilities of georust/proj
(coordinate transforms; see /root/repo/SURVEY.md) Spark-first: numpy
kernels wrapped in Arrow-batched UDFs (``arrow_udf``), plus the distributed
layer the reference leaves to callers — spatial cell indexing,
point-in-polygon joins, kNN joins, raster<->vector tile assignment,
dedup/similarity operators for training-data pipelines.
"""

from . import _pyworker
from .crs import (  # noqa: F401
    Area,
    ComparisonCriterion,
    ProjCreateError,
    ProjError,
    Transform,
    TransformBuilder,
    lib_info,
)

__version__ = "0.1.0"

_pyworker.install()
