"""Every oracle text that backs a DataFrame plan must analyze on the SQL
path.

A plan kept because "the translator cannot run its text" goes stale
unseen once the translator learns the construct. This sends each such
text through `plans/_util.sql_query` and stops at analysis: `spark.sql`
analyzes eagerly, and nothing is collected. The texts that do not
analyze today are strict xfails naming their Spark error class, so a
text that starts to analyze fails here and points at a plan that may
now be replaced by its text.
"""

import pytest
from pyspark.errors import PySparkException

import __spark_entry__ as entry
from duckdb_wasm_spark.plans._util import sql_query

_TEXT_CODE = sql_query("text", "select 1").__code__
PLANS = sorted(
    n for n, fn in entry.queries().items() if fn.__code__ is not _TEXT_CODE
)
ORACLE = entry.oracle_sql()

_RECURSIVE_UNION = "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"
_LAMBDA_SUBQUERY = (
    "UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.HIGHER_ORDER_FUNCTION"
)
# name -> the error class its text raises at analysis today
ANALYSIS_ERRORS = {
    "dedup_clusters": _RECURSIVE_UNION,
    "dedup_embedding_clusters": _RECURSIVE_UNION,
    "pipeline_near_dedup_corpus": _RECURSIVE_UNION,
    "pipeline_canonical_best": _RECURSIVE_UNION,
    "embed_pca_power": _LAMBDA_SUBQUERY,
    "embed_abtt": _LAMBDA_SUBQUERY,
    "embed_covariance": _LAMBDA_SUBQUERY,
}


class KnownAnalysisError(Exception):
    """The text raised the error class its xfail names."""


def _case(name):
    cls = ANALYSIS_ERRORS.get(name)
    if cls is None:
        return name
    mark = pytest.mark.xfail(raises=KnownAnalysisError, strict=True, reason=cls)
    return pytest.param(name, marks=mark)


def test_analysis_errors_name_dataframe_plans():
    assert sorted(set(ANALYSIS_ERRORS) - set(PLANS)) == []


@pytest.mark.parametrize("name", [_case(n) for n in PLANS])
def test_plan_text_analyzes(name, spark, sf_dir):
    try:
        sql_query(name, ORACLE[name])(spark, sf_dir)
    except PySparkException as e:
        if e.getCondition() == ANALYSIS_ERRORS.get(name):
            raise KnownAnalysisError(e.getCondition()) from e
        raise
