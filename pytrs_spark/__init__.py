"""pytrs_spark: a PySpark-native PLSS parsing + spatial-join + tiling
engine (see README.md and SURVEY.md).

Public surface (lazy imports keep the package importable on worker
daemons without pulling pyspark before it's needed):

- ``pytrs_spark.plss``       pure-Python parse kernels (no Spark)
- ``pytrs_spark.operators``  parse / query / io / textops / ann
- ``pytrs_spark.spatial``    grid geometry, cell join + PIP, kNN
- ``pytrs_spark.pipeline``   flagship parse->polygon->join->tile flows
- ``pytrs_spark.raster``     per-aliquot raster tile materialization
- ``pytrs_spark.lineage``    checkpointed, resumable bucket runs
- ``pytrs_spark.lifecycle``  the operators' persist/checkpoint/free
- ``pytrs_spark.streaming``  Structured Streaming front-ends
- ``pytrs_spark.session``    tuned SparkSession factory
"""

__version__ = '0.1.0'
