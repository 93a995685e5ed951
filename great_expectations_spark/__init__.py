"""great_expectations_spark — a PySpark-native expectation-suite validation engine.

A brand-new engine (NOT a port) with the semantics of the reference
``great_expectations`` 0.15.50 library: declarative expectation suites are
compiled into a small, fixed number of fused Spark jobs (typically ONE
``df.agg(...)`` scan for an entire suite) instead of the reference's
one-job-per-metric resolution waves
(reference: great_expectations/validator/validation_graph.py,
great_expectations/execution_engine/sparkdf_execution_engine.py:727-805).

Public API:
    from great_expectations_spark import (
        ExpectationConfiguration, ExpectationSuite, SparkValidator, validate,
    )
"""

from great_expectations_spark.core.suite import (
    ExpectationConfiguration,
    ExpectationSuite,
)
from great_expectations_spark.core.result import (
    ExpectationValidationResult,
    SuiteValidationResult,
)
from great_expectations_spark.interactive import (
    InteractiveValidator,
    get_metric,
    get_metrics,
)
from great_expectations_spark.rule_profiler import (
    RuleBasedProfilerResult,
    run_rule_based_profiler,
)
from great_expectations_spark.data_assistant import (
    onboarding_profiler_config,
    run_onboarding_assistant,
    run_volume_assistant,
    volume_profiler_config,
)
from great_expectations_spark.grouped import validate_by, violations_by
from great_expectations_spark.validator import SparkValidator, validate
from great_expectations_spark.context import DataContext, get_context
from great_expectations_spark.stores import (
    DatabaseStoreBackend,
    EvaluationParameterStore,
    ExpectationSuiteStore,
    InMemoryStoreBackend,
    MetricStore,
    TupleFilesystemStoreBackend,
    TupleHadoopFilesystemStoreBackend,
    ValidationResultStore,
)
from great_expectations_spark.functions.conditions import (
    register_regex_expectation,
    register_set_expectation,
)

__version__ = "0.2.0"

__all__ = [
    "ExpectationConfiguration",
    "ExpectationSuite",
    "ExpectationValidationResult",
    "SuiteValidationResult",
    "SparkValidator",
    "InteractiveValidator",
    "get_metric",
    "get_metrics",
    "validate",
    "validate_by",
    "run_rule_based_profiler",
    "onboarding_profiler_config",
    "run_onboarding_assistant",
    "volume_profiler_config",
    "run_volume_assistant",
    "RuleBasedProfilerResult",
    "violations_by",
    "register_regex_expectation",
    "register_set_expectation",
    "DataContext",
    "get_context",
    "InMemoryStoreBackend",
    "TupleFilesystemStoreBackend",
    "TupleHadoopFilesystemStoreBackend",
    "DatabaseStoreBackend",
    "ExpectationSuiteStore",
    "ValidationResultStore",
    "MetricStore",
    "EvaluationParameterStore",
]
