"""Engine error hierarchy."""


class EngineError(Exception):
    """Base class for engine errors."""


class ValidationError(EngineError):
    """A spec/config failed validation (reference: ValueError raises in
    datanika/services/upload_service.py:137-241)."""


class SchemaContractViolation(EngineError):
    """A frozen schema contract was violated (reference:
    datanika/services/upload_service.py:17-18,213-225)."""


class UnsupportedOperation(EngineError):
    """Operation exists in config surface but has no runnable
    implementation (e.g. ClickHouse destination — reference
    datanika/services/dlt_runner.py:98-99,128-129)."""


class DependencyNotSatisfied(EngineError):
    """An upstream dependency has no fresh SUCCESS run within its
    check window (reference: datanika/tasks/dependency_check.py:23-82)."""


class DriverCollectTooLarge(EngineError):
    """A driver-side collect met more rows than its declared bound
    (``session.bounded_collect``): the frame is not the small readout
    the code assumed, and collecting it would risk a driver OOM."""
