{{ config(materialized='table') }}
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, updated_at
FROM raw_customers
QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY updated_at DESC) = 1
