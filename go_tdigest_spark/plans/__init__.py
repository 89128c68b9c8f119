from .checkpoint import CheckpointedSketchJob
from .sink import write_partitioned

__all__ = [
    "CheckpointedSketchJob",
    "write_partitioned",
]
