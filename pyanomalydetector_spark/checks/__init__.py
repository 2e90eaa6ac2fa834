from pyanomalydetector_spark.checks.core import (
    Check,
    CheckResult,
    run_checks,
    VERDICT_SCHEMA,
    VIOLATION_SCHEMA,
)
from pyanomalydetector_spark.checks.drift import ks_by_partition

__all__ = [
    "Check",
    "CheckResult",
    "run_checks",
    "VERDICT_SCHEMA",
    "VIOLATION_SCHEMA",
    "ks_by_partition",
]
