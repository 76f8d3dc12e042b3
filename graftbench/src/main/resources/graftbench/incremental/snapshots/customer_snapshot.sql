{{ config(strategy='check', unique_key='c_custkey', check_cols='all') }}
select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment from {{ ref('stg_customer') }}
