"""Physical-plan helpers: session factory, skew handling, UDF fan-out,
checkpoints."""

from .session import get_spark, warm_python_workers
from .skew import salted_repartition, with_salt
from .fanout import exchange_free_partitions, spread
from .checkpoints import CheckpointManager

__all__ = ["get_spark", "warm_python_workers", "salted_repartition",
           "with_salt", "spread", "exchange_free_partitions",
           "CheckpointManager"]
