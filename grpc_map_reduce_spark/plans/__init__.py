from grpc_map_reduce_spark.plans.audit import (
    executed_plan,
    explain_str,
    final_plan,
    final_plan_audit,
    iter_executed_nodes,
    node_metrics,
    plan_audit,
)

__all__ = [
    "executed_plan", "explain_str", "final_plan", "final_plan_audit",
    "iter_executed_nodes", "node_metrics", "plan_audit",
]
