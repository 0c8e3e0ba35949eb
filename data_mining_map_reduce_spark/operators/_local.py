"""The one local-vs-distributed decision behind every driver twin.

CC, LPA, betweenness, Girvan-Newman and Lloyd each keep a driver-side
twin of their distributed loop for inputs under a size cap. The probe
is ``limit(cap + 1)``: on a huge input it reads only the first
partitions' rows, never the whole relation, and when the input fits it
doubles as the collect the driver twin runs on — one bounded job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row


def bounded_rows(df: DataFrame, cap: int) -> list[Row] | None:
    """All rows of ``df`` when it has at most ``cap`` of them, else
    ``None`` (take the distributed path). ``cap <= 0`` runs no job."""
    if cap <= 0:
        return None
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None
