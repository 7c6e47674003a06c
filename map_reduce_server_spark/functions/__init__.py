"""Reusable column-level function library (all JVM-side built-ins,
plus the pure-stdlib codecs that run inside Arrow-batched workers)."""
