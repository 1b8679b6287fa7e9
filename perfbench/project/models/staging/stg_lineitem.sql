{{ config(materialized='view') }}
SELECT l_lineid, l_orderkey, l_partkey, l_quantity,
       l_extendedprice * (1 - l_discount) AS net_price,
       IFF(l_returnflag = 'R', 1, 0) AS is_return,
       l_shipdate
FROM raw_lineitem
