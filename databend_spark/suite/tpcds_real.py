"""Real TPC-DS queries for the driver's oracle gate.

The reference ships the full TPC-DS corpus
(``tests/sqllogictests/suites/tpcds/Q1..Q99``) which this engine now
passes end-to-end at sf1 (see testkit bench-db bootstrap). This module
additionally puts six REAL TPC-DS queries (public benchmark text,
unmodified shapes) under the driver's Spark-vs-DuckDB value-hash gate,
over a committed sf0.01 parquet set (``testdata_ext/tpcds_sf001``,
generated with DuckDB's dsdgen — the same generator the reference's
prepare scripts use).

Both engines read the same parquet files: Spark registers temp views,
DuckDB gets the file path spliced in FROM position with the table name
kept as the alias, so the query text is otherwise identical.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from databend_spark.session import load_table
from databend_spark.suite.base import REGISTRY, Query

_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "testdata_ext",
                 "tpcds_sf001")
)

_TABLES = (
    "date_dim store_sales item customer customer_address store "
    "customer_demographics household_demographics promotion"
).split()


def _oracle(sql: str) -> str:
    out = sql
    kw = r"(?:ON|WHERE|GROUP|ORDER|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|LIMIT)\b"
    for t in _TABLES:
        # keep an explicit alias if present, else alias with the table name
        out = re.sub(
            rf"(\bFROM\s+|\bJOIN\s+|,\s*){t}\b(?!\.)(\s+(?!{kw})[A-Za-z_]\w*)?",
            lambda m, t=t: (
                f"{m.group(1)}'{_DIR}/{t}.parquet'"
                f"{m.group(2) if m.group(2) else ' ' + t}"
            ),
            out,
            flags=re.I,
        )
    return out


def _spark_sql(sql: str) -> str:
    """Rewrite bare TPC-DS table refs to prefixed view names (aliased
    back) so these views can never clobber the main suite's `customer`."""
    kw = r"(?:ON|WHERE|GROUP|ORDER|JOIN|LEFT|RIGHT|FULL|INNER|CROSS|LIMIT|AS|USING|HAVING|UNION)\b"
    out = sql
    for t in _TABLES:
        out = re.sub(
            rf"(\bFROM\s+|\bJOIN\s+|,\s*){t}\b(?!\.)(\s+(?!{kw})[A-Za-z_]\w*)?",
            lambda m, t=t: (
                f"{m.group(1)}tpcds_{t}"
                f"{m.group(2) if m.group(2) else ' ' + t}"
            ),
            out,
            flags=re.I,
        )
    return out


def _register(name: str, sql: str, doc: str) -> None:
    spark_text = _spark_sql(sql)

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        for t in _TABLES:
            p = os.path.join(_DIR, f"{t}.parquet")
            if os.path.exists(p):
                load_table(spark, p).createOrReplaceTempView(f"tpcds_{t}")
        return spark.sql(spark_text)

    REGISTRY[name] = Query(name=name, fn=fn, oracle=_oracle(sql), doc=doc)


# Q3: brand revenue by year for one manufacturer
_register(
    "tpcds_real_q3",
    """
    SELECT dt.d_year, item.i_brand_id AS brand_id,
           item.i_brand AS brand,
           CAST(sum(ss_ext_sales_price) AS DECIMAL(20,2)) AS sum_agg
    FROM date_dim dt, store_sales, item
    WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
      AND store_sales.ss_item_sk = item.i_item_sk
      AND item.i_manufact_id = 167
      AND dt.d_moy = 11
    GROUP BY dt.d_year, item.i_brand, item.i_brand_id
    ORDER BY dt.d_year, sum_agg DESC, brand_id
    LIMIT 100
    """,
    "TPC-DS Q3 (star join, brand revenue)",
)

# Q7: average sales metrics for a demographic slice
_register(
    "tpcds_real_q7",
    """
    SELECT i_item_id,
           avg(ss_quantity) AS agg1,
           CAST(avg(ss_list_price) AS DECIMAL(20,6)) AS agg2,
           CAST(avg(ss_coupon_amt) AS DECIMAL(20,6)) AS agg3,
           CAST(avg(ss_sales_price) AS DECIMAL(20,6)) AS agg4
    FROM store_sales, customer_demographics, date_dim, item, promotion
    WHERE ss_sold_date_sk = d_date_sk
      AND ss_item_sk = i_item_sk
      AND ss_cdemo_sk = cd_demo_sk
      AND ss_promo_sk = p_promo_sk
      AND cd_gender = 'M'
      AND cd_marital_status = 'S'
      AND cd_education_status = 'College'
      AND (p_channel_email = 'N' OR p_channel_event = 'N')
      AND d_year = 2000
    GROUP BY i_item_id
    ORDER BY i_item_id
    LIMIT 100
    """,
    "TPC-DS Q7 (demographic slice, 5-way join)",
)

# Q42: revenue by category for a month
_register(
    "tpcds_real_q42",
    """
    SELECT dt.d_year, item.i_category_id, item.i_category,
           CAST(sum(ss_ext_sales_price) AS DECIMAL(20,2)) AS rev
    FROM date_dim dt, store_sales, item
    WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
      AND store_sales.ss_item_sk = item.i_item_sk
      AND item.i_manager_id = 1
      AND dt.d_moy = 11
      AND dt.d_year = 2000
    GROUP BY dt.d_year, item.i_category_id, item.i_category
    ORDER BY rev DESC, dt.d_year, item.i_category_id, item.i_category
    LIMIT 100
    """,
    "TPC-DS Q42 (category revenue)",
)

# Q52: brand revenue for a month
_register(
    "tpcds_real_q52",
    """
    SELECT dt.d_year, item.i_brand_id AS brand_id, item.i_brand AS brand,
           CAST(sum(ss_ext_sales_price) AS DECIMAL(20,2)) AS ext_price
    FROM date_dim dt, store_sales, item
    WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
      AND store_sales.ss_item_sk = item.i_item_sk
      AND item.i_manager_id = 1
      AND dt.d_moy = 11
      AND dt.d_year = 2000
    GROUP BY dt.d_year, item.i_brand, item.i_brand_id
    ORDER BY dt.d_year, ext_price DESC, brand_id
    LIMIT 100
    """,
    "TPC-DS Q52 (brand revenue month)",
)

# Q55: manager brand revenue
_register(
    "tpcds_real_q55",
    """
    SELECT i_brand_id AS brand_id, i_brand AS brand,
           CAST(sum(ss_ext_sales_price) AS DECIMAL(20,2)) AS ext_price
    FROM date_dim, store_sales, item
    WHERE d_date_sk = ss_sold_date_sk
      AND ss_item_sk = i_item_sk
      AND i_manager_id = 28
      AND d_moy = 11
      AND d_year = 1999
    GROUP BY i_brand, i_brand_id
    ORDER BY ext_price DESC, brand_id
    LIMIT 100
    """,
    "TPC-DS Q55 (manager brand revenue)",
)

# Q68-style: per-customer city/ticket aggregates (trimmed to the tables
# in the committed set)
_register(
    "tpcds_real_q68",
    """
    SELECT c_last_name, c_first_name, ca_city, bought_city,
           ss_ticket_number, extended_price, extended_tax, list_price
    FROM (
      SELECT ss_ticket_number, ss_customer_sk,
             ca_city AS bought_city,
             CAST(sum(ss_ext_sales_price) AS DECIMAL(20,2)) AS extended_price,
             CAST(sum(ss_ext_list_price) AS DECIMAL(20,2)) AS list_price,
             CAST(sum(ss_ext_tax) AS DECIMAL(20,2)) AS extended_tax
      FROM store_sales, date_dim, store, customer_address
      WHERE ss_sold_date_sk = d_date_sk
        AND ss_store_sk = s_store_sk
        AND ss_addr_sk = ca_address_sk
        AND d_dom BETWEEN 1 AND 2
        AND d_year IN (1999, 2000, 2001)
      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city
    ) dn, customer, customer_address current_addr
    WHERE ss_customer_sk = c_customer_sk
      AND customer.c_current_addr_sk = current_addr.ca_address_sk
      AND current_addr.ca_city <> bought_city
    ORDER BY c_last_name, ss_ticket_number
    LIMIT 100
    """,
    "TPC-DS Q68 (city-mismatch tickets)",
)


# Q19: brand revenue where customer and store zips differ
_register(
    "tpcds_real_q19",
    """
    SELECT i_brand_id AS brand_id, i_brand AS brand, i_manufact_id,
           i_manufact,
           CAST(sum(ss_ext_sales_price) AS DECIMAL(20,2)) AS ext_price
    FROM date_dim, store_sales, item, customer, customer_address, store
    WHERE d_date_sk = ss_sold_date_sk
      AND ss_item_sk = i_item_sk
      AND i_manager_id = 8
      AND d_moy = 11
      AND d_year = 2002
      AND ss_customer_sk = c_customer_sk
      AND c_current_addr_sk = ca_address_sk
      AND SUBSTRING(ca_zip, 1, 5) <> SUBSTRING(s_zip, 1, 5)
      AND ss_store_sk = s_store_sk
    GROUP BY i_brand, i_brand_id, i_manufact_id, i_manufact
    ORDER BY ext_price DESC, i_brand, i_brand_id, i_manufact_id, i_manufact
    LIMIT 100
    """,
    "TPC-DS Q19 (6-table star join, zip-mismatch filter)",
)

# Q13: OR-of-ANDs demographic slices (single-row aggregate)
_register(
    "tpcds_real_q13",
    """
    SELECT CAST(sum(ss_quantity) AS DOUBLE) / count(ss_quantity) AS avg1,
           CAST(sum(ss_ext_sales_price) AS DOUBLE)
             / count(ss_ext_sales_price) AS avg2,
           CAST(sum(ss_ext_wholesale_cost) AS DOUBLE)
             / count(ss_ext_wholesale_cost) AS avg3,
           CAST(sum(ss_ext_wholesale_cost) AS DECIMAL(20,2)) AS sum4
    FROM store_sales, store, customer_demographics,
         household_demographics, customer_address, date_dim
    WHERE s_store_sk = ss_store_sk
      AND ss_sold_date_sk = d_date_sk
      AND d_year = 2001
      AND ((ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
            AND cd_marital_status = 'M'
            AND cd_education_status = 'Advanced Degree'
            AND ss_sales_price BETWEEN 100.00 AND 150.00
            AND hd_dep_count = 3)
        OR (ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
            AND cd_marital_status = 'S'
            AND cd_education_status = 'College'
            AND ss_sales_price BETWEEN 50.00 AND 100.00
            AND hd_dep_count = 1)
        OR (ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
            AND cd_marital_status = 'W'
            AND cd_education_status = '2 yr Degree'
            AND ss_sales_price BETWEEN 150.00 AND 200.00
            AND hd_dep_count = 1))
      AND ((ss_addr_sk = ca_address_sk AND ca_country = 'United States'
            AND ca_state IN ('TX', 'OH', 'TX')
            AND ss_net_profit BETWEEN 100 AND 200)
        OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
            AND ca_state IN ('OR', 'NM', 'KY')
            AND ss_net_profit BETWEEN 150 AND 300)
        OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
            AND ca_state IN ('VA', 'TX', 'MS')
            AND ss_net_profit BETWEEN 50 AND 250))
    """,
    "TPC-DS Q13 (disjunctive demographic predicates)",
)

# Q98: per-item revenue + class-window revenue ratio
_register(
    "tpcds_real_q98",
    """
    SELECT i_item_id, i_item_desc, i_category, i_class, i_current_price,
           CAST(sum(ss_ext_sales_price) AS DECIMAL(20,2)) AS itemrevenue,
           round(CAST(sum(ss_ext_sales_price) AS DOUBLE) * 100.0
                 / CAST(sum(sum(ss_ext_sales_price))
                        OVER (PARTITION BY i_class) AS DOUBLE),
                 6) AS revenueratio
    FROM store_sales, item, date_dim
    WHERE ss_item_sk = i_item_sk
      AND i_category IN ('Sports', 'Books', 'Home')
      AND ss_sold_date_sk = d_date_sk
      AND d_date BETWEEN CAST('1999-02-22' AS DATE)
                     AND CAST('1999-03-24' AS DATE)
    GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
    ORDER BY i_category NULLS FIRST, i_class NULLS FIRST,
             i_item_id NULLS FIRST, i_item_desc NULLS FIRST,
             revenueratio NULLS FIRST
    LIMIT 500
    """,
    "TPC-DS Q98 (agg + window-over-agg revenue ratio)",
)
