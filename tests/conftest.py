"""Test-session settings.  Each test module starts its own local Spark
session; a test-sized driver heap keeps their JVMs small enough to run
side by side.  An explicit SPARK_DRIVER_MEM still wins."""

import os

os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def pytest_configure(config):
    # a grouped pandas UDF whose type hints leave a parameter unannotated
    # (`fn(key, pdf: pd.DataFrame)`) makes Spark warn on every call;
    # annotate every parameter (`key: tuple`) or none
    config.addinivalue_line(
        "filterwarnings", "error:Cannot infer the eval type:UserWarning")
