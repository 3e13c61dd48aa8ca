{{ config(materialized='table') }}

WITH base AS (
  SELECT * FROM {{ source('card_transactions') }}
  WHERE CASE
      WHEN type IS NOT NULL THEN type
      WHEN card_last4 NOT IN (3221, 4245, 5083, 6823) THEN 'Payment'
      WHEN description ILIKE '%Online Transfer%' OR description ILIKE '%Edward Jones%' OR description ILIKE '%JPMorgan Chase%' OR description ILIKE '%Fedwire%' OR description ILIKE '%Automatic Payment%' OR description ILIKE '%Online Payment%' OR description ILIKE '%Payment Thank You - Web%' THEN 'Payment'
      ELSE 'Sale' END = 'Sale'
), norm0 AS (
  SELECT *,
         trim(regexp_replace(translate(regexp_replace(description, '&amp;', '&'),
                                       '’`', "''"),
                             '\\s+', ' ')) AS desc_base
  FROM base
), norm1 AS (
  SELECT *,
         regexp_replace(desc_base, '(?i)^(?:SPO|SQ|EB|PY|TST|SUMUP|ZETTLE)\\s*[^A-Za-z0-9]?\\s*', '') AS desc_noagg,
         CASE
           WHEN desc_base RLIKE '(?i)^BRITISH A\\b'
             THEN regexp_replace(desc_base, '(?i)^BRITISH A\\b', 'BRITISH AIRWAYS ')
           WHEN desc_base RLIKE '(?i)^AMERICAN AI\\b'
             THEN regexp_replace(desc_base, '(?i)^AMERICAN AI\\b', 'AMERICAN AIRLINES ')
           WHEN desc_base RLIKE '(?i)^UA\\s*INFLT\\b'
             THEN regexp_replace(desc_base, '(?i)^UA\\s*INFLT\\b', 'UNITED AIRLINES INFLIGHT ')
           ELSE CAST(NULL AS STRING) END AS desc_alias
  FROM norm0
), norm AS (
  SELECT *,
         desc_base AS desc_keep,
         regexp_replace(desc_base, '\\s*[-/]\\s*', ' ') AS desc_nohyphen,
         regexp_replace(desc_noagg, '\\s*[-/]\\s*', ' ') AS desc_noagg_nohyphen,
         regexp_replace(desc_base, '(?i)\\s*,\\s*[A-Z]{2}\\s*$', '') AS desc_tail,
         lower(regexp_replace(desc_base, '[^A-Za-z0-9]+', ' ')) AS desc_alpha,
         lower(regexp_replace(desc_noagg, '[^A-Za-z0-9]+', ' ')) AS desc_alpha_noagg,
         regexp_replace(lower(regexp_replace(desc_base, '[^A-Za-z0-9]+', ' ')), '\\s+', '') AS desc_alphanospace,
         regexp_replace(lower(regexp_replace(desc_noagg, '[^A-Za-z0-9]+', ' ')), '\\s+', '') AS desc_alpha_noagg_nospace
  FROM norm1
), rx AS (
  SELECT regex_key,
         merchant_key AS rx_merchant_key,
         pattern_regex AS rx_pattern,
         concat('(?i)', regexp_replace(regexp_replace(pattern_regex, '\\\\y', '\\\\b'), '\\\\Y', '\\\\B')) AS rx_pattern_java,
         coalesce(priority, 0)
           + CASE WHEN merchant_key IN ('restaurants_misc', 'unknown', 'misc')
                  THEN -100000 ELSE 0 END AS rx_priority
  FROM {{ ref('merchant_regex') }}
), rx_candidates AS (
  SELECT n.*, rx.regex_key, rx.rx_merchant_key, rx.rx_pattern, rx.rx_priority,
         ROW_NUMBER() OVER (
           PARTITION BY n.key
           ORDER BY rx.rx_priority DESC, length(rx.rx_pattern) DESC,
                    rx.regex_key DESC
         ) AS rx_rn
  FROM norm n
  LEFT JOIN rx
    ON n.desc_keep RLIKE rx.rx_pattern_java
    OR n.desc_nohyphen RLIKE rx.rx_pattern_java
    OR n.desc_noagg RLIKE rx.rx_pattern_java
    OR n.desc_noagg_nohyphen RLIKE rx.rx_pattern_java
    OR n.desc_tail RLIKE rx.rx_pattern_java
    OR n.desc_alias RLIKE rx.rx_pattern_java
), matched AS (
  SELECT * FROM rx_candidates WHERE rx_rn = 1
), nf_dim AS (
  SELECT merchant_key AS nf_merchant_key,
         lower(regexp_replace(merchant_name, '[^A-Za-z0-9]+', ' ')) AS name_alpha,
         lower(regexp_replace(regexp_replace(merchant_name, '\\s*\\([^)]*\\)\\s*', ' '), '[^A-Za-z0-9]+', ' ')) AS name_base_alpha,
         regexp_replace(lower(regexp_replace(merchant_name, '[^A-Za-z0-9]+', ' ')), '\\s+', '') AS name_alpha_nospace,
         regexp_replace(lower(regexp_replace(regexp_replace(merchant_name, '\\s*\\([^)]*\\)\\s*', ' '), '[^A-Za-z0-9]+', ' ')), '\\s+', '') AS name_base_alpha_nospace,
         length(merchant_name) AS name_len
  FROM {{ ref('merchants') }}
), nf_best AS (
  SELECT key, nf_merchant_key FROM (
    SELECT e.key, d.nf_merchant_key,
           ROW_NUMBER() OVER (
             PARTITION BY e.key ORDER BY d.name_len DESC, d.nf_merchant_key ASC
           ) AS nf_rn
    FROM matched e
    JOIN nf_dim d
      ON (instr(e.desc_alpha_noagg, d.name_alpha) > 0
          OR instr(e.desc_alpha_noagg, d.name_base_alpha) > 0
          OR instr(e.desc_alpha_noagg_nospace, d.name_alpha_nospace) > 0
          OR instr(e.desc_alpha_noagg_nospace, d.name_base_alpha_nospace) > 0)
    WHERE (e.rx_merchant_key IS NULL OR e.rx_merchant_key = 'restaurants_misc')
      AND d.name_len >= 4
      AND trim(d.name_base_alpha) NOT IN ('bar', 'cafe', 'market', 'grill', 'store', 'shop')
  ) WHERE nf_rn = 1
), resolved AS (
  SELECT mt.*, coalesce(mt.rx_merchant_key, nb.nf_merchant_key) AS merchant_key
  FROM matched mt LEFT JOIN nf_best nb ON mt.key = nb.key
), map_one AS (
  SELECT merchant_key, account_id FROM (
    SELECT merchant_key, account_id,
           ROW_NUMBER() OVER (
             PARTITION BY merchant_key
             ORDER BY coalesce(is_default, 'TRUE') DESC,
                      effective_from DESC NULLS LAST,
                      account_id DESC
           ) AS mo_rn
    FROM {{ ref('merchant_account_map') }}
  ) WHERE mo_rn = 1
), acct AS (
  SELECT r.date, r.amount, r.card_last4, r.description, r.merchant_key,
         me.merchant_name, mo.account_id,
         al.category, al.subcategory, al.billing_model, al.spend_nature,
         al.discretion, al.gl_code, al.account_name
  FROM resolved r
  LEFT JOIN {{ ref('merchants') }} me ON r.merchant_key = me.merchant_key
  LEFT JOIN map_one mo ON r.merchant_key = mo.merchant_key
  LEFT JOIN {{ ref('accounts_leaf') }} al ON mo.account_id = al.account_id
), card_branch AS (
  SELECT date, amount, card_last4, description,
         coalesce(merchant_key, 'Unknown') AS merchant_key,
         coalesce(merchant_name, 'Unknown') AS merchant_name,
         coalesce(category, 'Unknown') AS category,
         coalesce(subcategory, 'Unknown') AS subcategory,
         coalesce(billing_model, 'Unknown') AS billing_model,
         coalesce(spend_nature, 'Unknown') AS spend_nature,
         coalesce(discretion, 'Unknown') AS discretion,
         coalesce(account_id, 'Unknown') AS account_id,
         gl_code,
         coalesce(account_name, 'Unknown') AS account_name
  FROM acct WHERE substring(description, 1, 5) != 'venmo'
), venmo_branch AS (
  SELECT date, amount, CAST(0 AS INT) AS card_last4,
         substring(description, 7) AS description,
         'venmo' AS merchant_key, 'Venmo' AS merchant_name,
         CASE WHEN ffund THEN 'Health & Wellness' WHEN lorna THEN 'Food & Groceries'
              WHEN lisa THEN 'Personal Services' WHEN sofia THEN 'Entertainment & Events'
              ELSE 'Personal Services' END AS category,
         CASE WHEN ffund THEN 'Fertility' WHEN lorna THEN 'Groceries'
              WHEN lisa THEN 'Personal Care' WHEN sofia THEN 'Bars & Nightlife'
              ELSE 'Personal Care' END AS subcategory,
         'one_off' AS billing_model, 'consumption' AS spend_nature,
         'discretionary' AS discretion,
         CASE WHEN ffund THEN 'acct_93cc197271' WHEN lorna THEN 'acct_a0f371c808'
              WHEN lisa THEN 'acct_f183bb01ee' WHEN sofia THEN 'acct_252a9dfee6'
              ELSE 'acct_f183bb01ee' END AS account_id,
         CAST(CASE WHEN ffund THEN 5550 WHEN lorna THEN 5110
              WHEN lisa THEN 6110 WHEN sofia THEN 5730 ELSE 6110 END AS INT) AS gl_code,
         CASE WHEN ffund THEN 'Health—Fertility' WHEN lorna THEN 'Food—Groceries'
              WHEN lisa THEN 'Services—Personal Care'
              WHEN sofia THEN 'Entertainment—Bars & Nightlife'
              ELSE 'Services—Personal Care' END AS account_name
  FROM (
    SELECT *,
           description ILIKE '%proto faff surplus seed fund%' AS ffund,
           intermediate_key ILIKE '%Lorna Kerry%' AS lorna,
           intermediate_key ILIKE '%Lisa Raich%' AS lisa,
           intermediate_key ILIKE '%Sofia Mesa%' AS sofia
    FROM {{ source('card_transactions') }}
    WHERE substring(description, 1, 5) = 'venmo'
  )
), bank_branch AS (
  SELECT date, amount, card_last4, description,
         'bank_transfer' AS merchant_key, 'Bank Transfer' AS merchant_name,
         CASE WHEN amount < 0 THEN 'Travel' WHEN amount > 0 THEN 'Housing' END AS category,
         CASE WHEN amount < 0 THEN 'Flights' WHEN amount > 0 THEN 'Rent' END AS subcategory,
         CASE WHEN amount < 0 THEN 'one_off' WHEN amount > 0 THEN 'subscription' END AS billing_model,
         'consumption' AS spend_nature,
         CASE WHEN amount < 0 THEN 'discretionary' WHEN amount > 0 THEN 'mandatory' END AS discretion,
         CASE WHEN amount < 0 THEN 'acct_1d9ae90683' WHEN amount > 0 THEN 'acct_329a7781bd' END AS account_id,
         CAST(CASE WHEN amount < 0 THEN 5310 WHEN amount > 0 THEN 5010 END AS INT) AS gl_code,
         CASE WHEN amount < 0 THEN 'Travel—Flights' WHEN amount > 0 THEN 'Housing-Rent' END AS account_name
  FROM {{ source('card_transactions') }}
  WHERE card_last4 IN (3206, 9155) AND description ILIKE '%Lorna%'
)
SELECT * FROM card_branch
UNION
SELECT * FROM venmo_branch
UNION
SELECT * FROM bank_branch
ORDER BY date DESC, amount ASC
