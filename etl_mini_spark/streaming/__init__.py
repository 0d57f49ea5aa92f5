from etl_mini_spark.streaming.stream import (  # noqa: F401
    foreach_batch_upsert,
    read_stream_parquet,
    replay,
    run_to_completion,
)
from etl_mini_spark.streaming.windows import (  # noqa: F401
    sessionized,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
)
