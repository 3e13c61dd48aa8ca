{{ config(materialized='table') }}

SELECT CAST(date_trunc('week', date) AS DATE) AS date_period,
       merchant_name, category, subcategory, billing_model, spend_nature,
       discretion, gl_code, account_name, account_id,
       SUM(amount) AS total_spend
FROM {{ ref('classified_card_transactions') }}
GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10
ORDER BY date_period DESC, total_spend ASC
