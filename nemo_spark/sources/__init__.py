from nemo_spark.sources import sparql

__all__ = ["sparql"]
