"""Structured-Streaming twins of the batch operators: windowed KG
triples (stream_kg), the incremental edge fold (incremental), the
IVF-PQ index fold (ann_incremental), watermarked dedup
(dedup_stream), gap sessions (sessions) and the stream-stream interval
join (interval_join). Each module is imported where it is used."""
