"""Physical-plan helpers: session factory, UDF fan-out, checkpoints."""

from .session import get_spark, warm_python_workers
from .checkpoints import CheckpointManager

__all__ = ["get_spark", "warm_python_workers", "CheckpointManager"]
