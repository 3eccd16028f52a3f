from smartbots_etl_facturas_spark.sources.readers import with_row_idx

__all__ = ["with_row_idx"]
