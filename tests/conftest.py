import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from pivot_spark.session import WORKER_CONF


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("pivot_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # the Python workers start as under get_spark
        .config(map=WORKER_CONF)
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _fence_scope():
    """Release every frame a test pinned, so no test sees another
    test's cached frames."""
    from pivot_spark.operators._fence import fence_scope

    with fence_scope():
        yield


SALES_COLUMNS = ["Quarter", "Product", "Brand", "Sales", "ShopID"]

# Reference golden fixture (PivotTest.java:88-133 / examples/sample_data.csv).
SALES_ROWS = [
    ("Q1", "Shoes", "Nike", 50, 1),
    ("Q1", "Shirts", "Nike", 20, 1),
    ("Q1", "Socks", "Reebok", 40, 1),
    ("Q1", "Shirts", "Reebok", 60, 1),
    ("Q1", "Shoes", "Reebok", 50, 1),
    ("Q2", "Shoes", "Nike", 20, 1),
    ("Q2", "Shoes", "Reebok", 30, 1),
    ("Q2", "Socks", "Nike", 40, 1),
    ("Q3", "Shoes", "Nike", 50, 1),
    ("Q3", "Shoes", "Reebok", 30, 1),
    ("Q3", "Socks", "Reebok", 40, 1),
    ("Q3", "Socks", "Nike", 20, 1),
    ("Q4", "Shoes", "Reebok", 10, 1),
    ("Q4", "Shirts", "Reebok", 20, 1),
    ("Q4", "Socks", "Reebok", 30, 1),
    ("Q4", "Shoes", "Nike", 40, 1),
    ("Q4", "Shirts", "Nike", 50, 1),
    ("Q4", "Socks", "Nike", 60, 1),
]


@pytest.fixture(scope="session")
def sales_df(spark):
    return spark.createDataFrame(SALES_ROWS, SALES_COLUMNS)
