"""Engine operators (SURVEY.md §2 inventory), each independently callable.

These are the building blocks the pipeline models compose, and what the
driver's ``queries()`` exercises over the TPC-H-ish testdata. Every operator
is expressed on the DataFrame API so Catalyst owns the physical plan;
"custom" logic exists only where semantics (not speed) demand it: SCD2 merge,
incremental watermark state, and the near-dup/similarity extensions.
"""

from unified_firmographic_data_pipeline_spark.operators.dedup import dedup_exact, dedup_first
from unified_firmographic_data_pipeline_spark.operators.flatten import flatten_json_array
from unified_firmographic_data_pipeline_spark.operators.incremental import (
    incremental_filter,
    upsert,
)
from unified_firmographic_data_pipeline_spark.operators.scd2 import scd2_apply, scd2_current

__all__ = [
    "dedup_first",
    "dedup_exact",
    "flatten_json_array",
    "incremental_filter",
    "upsert",
    "scd2_apply",
    "scd2_current",
]
