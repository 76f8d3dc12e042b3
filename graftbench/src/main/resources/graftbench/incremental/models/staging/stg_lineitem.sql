{{ config(materialized='view', event_time='l_shipdate') }}
select l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
  l_returnflag, l_linestatus, cast(l_shipdate as timestamp) as l_shipdate
from {{ source('tpch', 'lineitem') }}
