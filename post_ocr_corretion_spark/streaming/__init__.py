"""Structured Streaming surface. The reference is batch-only (SURVEY.md
§2.11) and the north rule is snapshot-resumable batch; this package holds
the streaming forms the engine ships: session windows over the events
table (the `sessionize` query's aggregation), the stateful url dedup of
the streaming correction job, and the bounded-state substring dedup of
the `dup_windows_bloom` query."""
