{{ config(materialized='incremental', unique_key='c_custkey', incremental_strategy='delete+insert') }}
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, updated_at
FROM landing_customers
QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY updated_at DESC) = 1
