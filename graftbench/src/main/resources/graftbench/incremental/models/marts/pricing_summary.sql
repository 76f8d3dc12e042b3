{{ config(materialized='table', tags='mart') }}
select l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity as decimal(18,4))) as double) as sum_qty,
  cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double) as revenue,
  count(*) as n_lines
from {{ ref('stg_lineitem') }}
group by l_returnflag, l_linestatus
