"""Dataflow operators: last-writer-wins reduce (window + aggregate), routing."""

from airbyte_destination_spark.operators.dedup import (  # noqa: F401
    lww_reduce,
    lww_reduce_agg,
)
