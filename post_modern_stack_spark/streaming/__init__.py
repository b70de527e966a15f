"""Structured Streaming surface: the event file stream, windowed counts,
watermark-bounded dedup and the stateful sessionizer (SURVEY.md §2 J1,
J2, J4, J5)."""
