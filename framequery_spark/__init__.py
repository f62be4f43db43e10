"""framequery_spark — a PySpark-native SQL-over-DataFrames engine.

Re-expresses the capabilities of chmp/framequery (pg-flavored SQL over an
ad-hoc table scope) on Spark: parse ourselves, plan with Catalyst. Plus
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) designed for 100 TB scale.
"""

from .executor.executor import Executor, execute, plan_cache_info
from .parser import parse

__version__ = "0.1.0"
__all__ = ["execute", "Executor", "parse", "compute", "plan_cache_info",
           "__version__"]


def compute(result):
    """Materialize an execute() result to pandas — the analogue of the
    reference's model.compute() barrier (src/framequery/executor/_dask.py:110).
    DDL results (None) pass through."""
    return None if result is None else result.toPandas()
