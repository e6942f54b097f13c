"""Physical data-layout maintenance: small-file compaction.

Streaming sinks and per-day incremental loads accrete small files, and
at scale the file COUNT (driver listing, task scheduling, open-per-file
overhead) becomes the bottleneck long before bytes do.
``compact_parquet`` rewrites an unpartitioned parquet directory into
files of a target size.
"""

from __future__ import annotations

import glob
import math
import os


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Rewrite ``path`` into files of roughly ``target_file_bytes``;
    returns (files_before, files_after).

    Compaction = read, coalesce to ceil(bytes/target) partitions
    (coalesce, not repartition — no shuffle, files just concatenate),
    staged-snapshot swap (same pattern as ``operators.merge``).
    """
    from ..operators.merge import _swap_in

    if any(
        "=" in e.name and e.is_dir() for e in os.scandir(path)
    ):
        raise ValueError(
            f"compact_parquet: {path!r} has a partitioned (key=value) "
            "layout; coalescing would flatten the partition directories. "
            "Compact each partition directory individually instead."
        )
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_after = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    _swap_in(spark, df.coalesce(n_after), path)
    return len(files), len(glob.glob(f"{path}/**/*.parquet", recursive=True))
