{{ config(materialized='incremental', unique_key='o_orderkey', incremental_strategy='merge') }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, updated_at
FROM landing_orders
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY updated_at DESC) = 1
