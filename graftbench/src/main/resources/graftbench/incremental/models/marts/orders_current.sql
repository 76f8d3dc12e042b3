{{ config(materialized='incremental', incremental_strategy='merge', unique_key='o_orderkey', tags='mart') }}
select * from {{ ref('stg_orders') }}
{% if is_incremental() %}
where batch_id > (select max(batch_id) from {{ this }})
{% endif %}
