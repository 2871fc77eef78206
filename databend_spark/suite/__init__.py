"""Query suite — importing this package registers every query.

Modules map to SURVEY.md §2 sections:
  tpch        — joins/agg/subqueries on the TPC-H-ish corpus (§2.3, §2.4)
  relational  — join-type matrix, set ops, window, grouping sets, SRFs,
                limit/offset/topn, pivot/unpivot, sampling (§2.3–2.7)
  functions   — scalar-function surface: string/math/date/hash/json/array
                (§2.8)
  llm         — dedup, similarity search, text analysis (north-star ops)
  events      — sessionization, funnel, retention, time-bucketed aggs
                (reference aggregates window_funnel/retention, §2.4)
"""

from databend_spark.suite.base import REGISTRY, oracle_sql, queries  # noqa: F401
import databend_spark.suite.tpch  # noqa: F401,E402
import databend_spark.suite.relational  # noqa: F401,E402
import databend_spark.suite.functions  # noqa: F401,E402
import databend_spark.suite.llm  # noqa: F401,E402
import databend_spark.suite.events  # noqa: F401,E402
import databend_spark.suite.mutations_suite  # noqa: F401,E402
import databend_spark.suite.udf_suite  # noqa: F401,E402
import databend_spark.suite.hits  # noqa: F401,E402
import databend_spark.suite.tpcds_style  # noqa: F401,E402
import databend_spark.suite.tpcds_real  # noqa: F401,E402
import databend_spark.suite.geo  # noqa: F401,E402
import databend_spark.suite.variant_suite  # noqa: F401,E402
import databend_spark.suite.stage_suite  # noqa: F401,E402
