-- latest version of every order: the base table plus the change batches
select o_orderkey, o_custkey, o_orderstatus, o_totalprice,
  cast(o_orderdate as timestamp) as o_orderdate, o_orderpriority, batch_id
from (
  select *, row_number() over (partition by o_orderkey order by batch_id desc) as rn
  from (
    select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      o_orderpriority, 0 as batch_id
    from {{ source('tpch', 'orders') }}
    union all
    select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      o_orderpriority, batch_id
    from {{ source('tpch', 'orders_delta') }}
  ) u
) r
where rn = 1
