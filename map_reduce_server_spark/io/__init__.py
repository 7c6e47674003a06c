"""File-layout helpers: the façade's numbered-file sink, compaction,
Z-order layout and temp-dir cleanup."""
