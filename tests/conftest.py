from __future__ import annotations

import pytest

from image_deduplication_3m_images_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, shuffle_partitions=8)
    yield s
    s.stop()
