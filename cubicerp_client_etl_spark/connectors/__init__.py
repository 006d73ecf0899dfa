from cubicerp_client_etl_spark.connectors.rpc import rpc_apply_actions, rpc_extract

__all__ = ["rpc_extract", "rpc_apply_actions"]
