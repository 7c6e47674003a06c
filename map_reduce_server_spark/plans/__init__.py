"""Plan inspection utilities (the engine's optimizer feedback loop)."""

from map_reduce_server_spark.plans.inspect import explain_str

__all__ = ["explain_str"]
