from tailpipe_spark.functions.exact import dsum, davg, dwindow_sum

__all__ = ["dsum", "davg", "dwindow_sum"]
