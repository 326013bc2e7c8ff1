"""Physical-plan inspection: make plan quality (pushdown, broadcast,
partial agg, shuffle counts) assertable in tests."""
from .inspect import (PLAN_NODES, count_exchanges, count_scans,
                      formatted_plan, has_broadcast_join,
                      has_partial_aggregation, node_counts, pushed_filters,
                      read_schemas, whole_stage_codegen_spans)

__all__ = ["PLAN_NODES", "formatted_plan", "node_counts", "count_exchanges",
           "count_scans", "has_broadcast_join", "has_partial_aggregation",
           "pushed_filters", "read_schemas", "whole_stage_codegen_spans"]
