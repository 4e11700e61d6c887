from __future__ import annotations

import pytest

from micro_lab_ocr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("micro-lab-ocr-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()
