-- latest version of every customer: the base table plus the change batches
select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
from (
  select *, row_number() over (partition by c_custkey order by batch_id desc) as rn
  from (
    select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, 0 as batch_id
    from {{ source('tpch', 'customer') }}
    union all
    select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, batch_id
    from {{ source('tpch', 'customer_delta') }}
  ) u
) r
where rn = 1
