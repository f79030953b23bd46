"""Plan-level machinery (SURVEY.md §2.9 job control, §2.4 counters, §4
physical-plan hygiene): DAG orchestration, observed metrics, cache
lifetime, and plan introspection used by tests and the bench harness.
"""

from hadoop_20_warehouse_fix_spark.plans.jobcontrol import Step, run_dag  # noqa: F401
from hadoop_20_warehouse_fix_spark.plans.counters import observed  # noqa: F401
from hadoop_20_warehouse_fix_spark.plans.cache import cache_scope, persisted  # noqa: F401
from hadoop_20_warehouse_fix_spark.plans.inspect import plan_summary  # noqa: F401
