"""The benchmark's workloads, by name."""

from workloads import contract_queries, presencia_daily, trickle_views

WORKLOADS = {
    m.NAME: m.Workload for m in (presencia_daily, trickle_views, contract_queries)
}
