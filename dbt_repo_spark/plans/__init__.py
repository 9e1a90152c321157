from dbt_repo_spark.plans.runner import Model, ModelRunner, model
from dbt_repo_spark.plans.testing import relationships, run_tests, unique

__all__ = [
    "Model",
    "ModelRunner",
    "model",
    "relationships",
    "run_tests",
    "unique",
]
