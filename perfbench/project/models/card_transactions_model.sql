{{ config(materialized='table') }}

SELECT key, date, amount, card_last4,
       CASE
      WHEN type IS NOT NULL THEN type
      WHEN card_last4 NOT IN (3221, 4245, 5083, 6823) THEN 'Payment'
      WHEN description ILIKE '%Online Transfer%' OR description ILIKE '%Edward Jones%' OR description ILIKE '%JPMorgan Chase%' OR description ILIKE '%Fedwire%' OR description ILIKE '%Automatic Payment%' THEN 'Payment'
      ELSE 'Sale' END AS clean_type,
       description AS raw_description,
       category AS raw_category,
       type AS raw_type
FROM {{ source('card_transactions') }}
ORDER BY amount DESC
