from open_finance_lakehouse_spark.operators.binpack import plan_bins  # noqa: F401
from open_finance_lakehouse_spark.operators.compact import compact  # noqa: F401
from open_finance_lakehouse_spark.operators.cluster import cluster_global  # noqa: F401
from open_finance_lakehouse_spark.operators.merge_into import merge_into  # noqa: F401
from open_finance_lakehouse_spark.operators.expire import expire  # noqa: F401
from open_finance_lakehouse_spark.operators.delete_where import delete_where  # noqa: F401
from open_finance_lakehouse_spark.operators.update_where import update_where  # noqa: F401
