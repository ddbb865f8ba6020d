"""Date functions as native Column expressions (SURVEY §2 A12).

The other AQL scalar functions (INCIDR, FULLNETWORKNAME, the decodes) are SQL
text built by :mod:`qradar_restapi_kafka_datapipeline_spark.plans.dialect`.
"""

from qradar_restapi_kafka_datapipeline_spark.functions.dates import (
    date_format_fn,
    epoch_to_ts,
    prev_saturday,
    report_date,
    week_from,
)

__all__ = [
    "date_format_fn",
    "epoch_to_ts",
    "prev_saturday",
    "report_date",
    "week_from",
]
