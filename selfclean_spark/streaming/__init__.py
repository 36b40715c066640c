"""Structured Streaming adapter (incremental ingest + dedup).

The reference is strictly batch (SURVEY.md §2.9); streaming here is an
*extension* with one module, :mod:`streaming.incremental`: new source
files flow through the signature stage incrementally so the expensive
featurization never recomputes, and each micro-batch is deduplicated
against the accumulated signature index (LSH banding is associative
over rows, so incremental signatures compose exactly)."""
