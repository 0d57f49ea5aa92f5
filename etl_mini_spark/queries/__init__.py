"""Query registry: importing this package registers every query module
into QUERIES/ORACLE, in the import order below. No consumer depends on
that order: the oracle shards take sorted(QUERIES)[i::n], and bench.py
and perfbench look queries up by name.

See _base for the registration decorator and hash-parity conventions.
"""

from etl_mini_spark.queries._base import ORACLE, QUERIES, q  # noqa: F401

from etl_mini_spark.queries import scans  # noqa: F401,E402
from etl_mini_spark.queries import joins_q  # noqa: F401,E402
from etl_mini_spark.queries import aggregates  # noqa: F401,E402
from etl_mini_spark.queries import windows_q  # noqa: F401,E402
from etl_mini_spark.queries import ordering_sets  # noqa: F401,E402
from etl_mini_spark.queries import scalar_fns  # noqa: F401,E402
from etl_mini_spark.queries import upserts  # noqa: F401,E402
from etl_mini_spark.queries import streaming_batch  # noqa: F401,E402
from etl_mini_spark.queries import llm_dedup_ann  # noqa: F401,E402
from etl_mini_spark.queries import roundtrips_http  # noqa: F401,E402
from etl_mini_spark.queries import sql_suite  # noqa: F401,E402
from etl_mini_spark.queries import agg_extended  # noqa: F401,E402
from etl_mini_spark.queries import agg_stats  # noqa: F401,E402
from etl_mini_spark.queries import sampling_q  # noqa: F401,E402
from etl_mini_spark.queries import coverage_ext  # noqa: F401,E402
from etl_mini_spark.queries import round3_ops  # noqa: F401,E402
from etl_mini_spark.queries import corpus_scale  # noqa: F401,E402
from etl_mini_spark.queries import round5_ops  # noqa: F401,E402
from etl_mini_spark.queries import round5_analytics  # noqa: F401,E402
from etl_mini_spark.queries import round5_modern_sql  # noqa: F401,E402
from etl_mini_spark.queries import round5_tpch_fill  # noqa: F401,E402
from etl_mini_spark.queries import round5_new_domains  # noqa: F401,E402
from etl_mini_spark.queries import round6_ops  # noqa: F401,E402
from etl_mini_spark.queries import round6_corpus  # noqa: F401,E402
from etl_mini_spark.queries import round7_ops  # noqa: F401,E402
from etl_mini_spark.queries import round8_ops  # noqa: F401,E402
from etl_mini_spark.queries import round8_new  # noqa: F401,E402
from etl_mini_spark.queries import round9_ops  # noqa: F401,E402
from etl_mini_spark.queries import round10_ops  # noqa: F401,E402
from etl_mini_spark.queries import round11_ops  # noqa: F401,E402
from etl_mini_spark.queries import round12_ops  # noqa: F401,E402
from etl_mini_spark.queries import round13_ops  # noqa: F401,E402
from etl_mini_spark.queries import round14_ops  # noqa: F401,E402
from etl_mini_spark.queries import round15_ops  # noqa: F401,E402
from etl_mini_spark.queries import round16_ops  # noqa: F401,E402
from etl_mini_spark.queries import round17_ops  # noqa: F401,E402
from etl_mini_spark.queries import round18_ops  # noqa: F401,E402
from etl_mini_spark.queries import round19_ops  # noqa: F401,E402
