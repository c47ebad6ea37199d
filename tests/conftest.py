import pytest

# The driver JVM is the only memory pool in local mode.  Under
# default_session's 48g a full Tier-1 pass grew it to 14 GB RSS and was
# OOM-killed on a 4-vCPU/16 GB VM; at 4g two passes there peaked at 4.1
# and 4.8 GB, and the suite also passes at 2g.
DRIVER_MEMORY = "4g"


@pytest.fixture(scope="session")
def spark():
    from ocr_pipeline_spark.plans.job import default_session

    s = default_session(
        "local[8]", app_name="tests", shuffle_partitions=8,
        extra={"spark.driver.memory": DRIVER_MEMORY},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
