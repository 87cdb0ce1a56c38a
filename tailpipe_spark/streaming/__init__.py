from tailpipe_spark.streaming.collect_stream import session_windows, windowed_counts

__all__ = ["windowed_counts", "session_windows"]
