from .sinks import (
    foreach_batch_publisher,
    write_partitioned_files,
)

__all__ = [
    "foreach_batch_publisher",
    "write_partitioned_files",
]
