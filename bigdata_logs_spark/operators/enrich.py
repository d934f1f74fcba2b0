"""Event-time enrichment (SURVEY.md D-9..D-13).

The reference re-derives `datetime` from string columns on every
dashboard load (``src/stats_dashboard.py:25-29``); here it is computed
once at ingest and carried as a proper TIMESTAMP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Classic syslog omits the year; the reference hard-codes 2024
# (src/stats_dashboard.py:26). Kept as a parameter with the same
# faithful default.
DEFAULT_YEAR = 2024


def with_event_time(parsed: DataFrame, year: int = DEFAULT_YEAR) -> DataFrame:
    """D-9: ts = to_timestamp('{year} Mon d HH:mm:ss'); unparseable ->
    NULL (matching pandas errors='coerce'), then D-2 drops them at
    query sites that need time."""
    return parsed.withColumn(
        "ts",
        F.to_timestamp(
            F.concat_ws(
                " ",
                F.lit(str(year)),
                F.col("month"),
                F.col("day").cast("string"),
                F.col("time"),
            ),
            "yyyy MMM d HH:mm:ss",
        ),
    )

