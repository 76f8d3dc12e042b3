{{ config(materialized='table', tags='mart') }}
select c.c_mktsegment, o.o_orderstatus, count(*) as n_orders,
  cast(sum(cast(o.o_totalprice as decimal(18,2))) as double) as revenue
from {{ ref('orders_current') }} o
join {{ ref('stg_customer') }} c on o.o_custkey = c.c_custkey
group by c.c_mktsegment, o.o_orderstatus
