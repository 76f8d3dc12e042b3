-- the microbatch table holds exactly the rows of the line-item view
select * from (select count(*) as n from {{ ref('shipments') }}) a
cross join (select count(*) as m from {{ ref('stg_lineitem') }}) b
where a.n <> b.m
