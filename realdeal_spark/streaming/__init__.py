from realdeal_spark.streaming.cdf_source import (
    LakeChangesDataSource,
    Surface,
    foreach_changes,
    maintainer_lag,
    register_lake_changes,
    stream_changes,
    stream_maintain,
)
from realdeal_spark.streaming.enrich import enrich_batch, stream_enrich
from realdeal_spark.streaming.stream_apply import file_source, stream_apply
from realdeal_spark.streaming.suppress import suppress_unchanged
from realdeal_spark.streaming.windows import session_rollup, tumbling_rollup

__all__ = [
    "LakeChangesDataSource",
    "Surface",
    "enrich_batch",
    "file_source",
    "foreach_changes",
    "maintainer_lag",
    "register_lake_changes",
    "session_rollup",
    "stream_changes",
    "stream_enrich",
    "stream_apply",
    "stream_maintain",
    "suppress_unchanged",
    "tumbling_rollup",
]
