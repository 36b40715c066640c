"""selfclean_spark — a PySpark-native near-duplicate detection & clustering engine.

Brand-new implementation (NOT a port) with the query/data-processing
capabilities of the reference ``Digital-Dermatology/SelfClean``
(read-only at /root/reference): rank near-duplicate pairs, score
off-topic/isolated samples, rank label errors, auto-threshold score
distributions — re-expressed Spark-first over a source-code table
``code_files(repo, path, commit, lang, content)`` at 10^12-file design
scale.

The reference materializes a dense N×N distance matrix
(selfclean/cleaner/selfclean_cleaner.py:121-149).  This engine never
does: content is shingled + sketched (MinHash 128 / SimHash 64) inside
vectorized Arrow UDFs, candidates come from LSH band hashing, exact
verification runs only on candidates, and clusters come from a
distributed large-star/small-star connected-components pass.
"""

from selfclean_spark.config import PipelineConfig, SignatureConfig

__all__ = ["PipelineConfig", "SelfCleanSpark", "SignatureConfig", "get_spark"]


def __getattr__(name):
    # lazy: ``session`` imports pyspark, which the Python worker daemon
    # (``functions.daemon``, started as ``python -m``) must import only
    # after it has chosen where pyspark comes from; the facade pulls in
    # the full pipeline graph
    if name == "get_spark":
        from selfclean_spark.session import get_spark

        return get_spark
    if name == "SelfCleanSpark":
        from selfclean_spark.facade import SelfCleanSpark

        return SelfCleanSpark
    raise AttributeError(name)
__version__ = "0.1.0"
