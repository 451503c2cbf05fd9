from polario_spark.plans.explain import (
    codegen_compiles,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
)
from polario_spark.plans.residue import release_cached_residue

__all__ = [
    "codegen_compiles",
    "formatted_plan",
    "pushed_filters",
    "scan_read_schema",
    "has_broadcast_join",
    "release_cached_residue",
]
