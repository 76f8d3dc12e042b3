{{ config(materialized='incremental', incremental_strategy='microbatch', event_time='l_shipdate', batch_size='year', begin='1995-01-01T00:00:00Z', run_end='2002-01-01T00:00:00Z', lookback='1', tags='mart') }}
select l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
from {{ ref('stg_lineitem') }}
