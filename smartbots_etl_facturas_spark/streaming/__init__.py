from smartbots_etl_facturas_spark.streaming.windows import (
    tumbling_agg,
    sliding_agg,
)
from smartbots_etl_facturas_spark.streaming.ingest import incremental_file_stream

__all__ = ["tumbling_agg", "sliding_agg", "incremental_file_stream"]
