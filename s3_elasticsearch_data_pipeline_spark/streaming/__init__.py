"""Structured Streaming surface (SURVEY.md §2.6 / §7 M3).

The reference has no streams — its incrementality is batch
diff-and-load. ``incremental_stream`` is the Spark-native analogue that
subsumes it (file source + Trigger.AvailableNow + checkpoint =
exactly-once incremental loads with no hand-rolled state, fixing the
reference's late-data blind spot); ``windowed`` holds the
watermark+window aggregates. Every file-fed stream that processes
epochs runs on the one drain loop in ``epochs``.
"""
