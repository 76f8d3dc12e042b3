select * from {{ ref('revenue_by_segment') }} where revenue <= 0
