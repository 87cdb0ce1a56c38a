from tailpipe_spark.operators.asof import asof_join
from tailpipe_spark.operators.sessionize import sessionize

__all__ = ["asof_join", "sessionize"]
