-- the merged table holds exactly the keys of the latest staging view
select * from (select count(*) as n from {{ ref('orders_current') }}) a
cross join (select count(*) as m from {{ ref('stg_orders') }}) b
where a.n <> b.m
