"""File-layout helpers: the façade's numbered-file sink, Z-order
layout and temp-dir cleanup."""
