import pytest

from hashio_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="hashio-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs(spark):
    from hashio_spark.datagen import documents_interleaved

    return documents_interleaved(spark, n_docs=2000, n_partitions=8).cache()


@pytest.fixture(scope="session")
def catalog(spark):
    from hashio_spark.datagen import asset_catalog

    return asset_catalog(spark, 1000).cache()


@pytest.fixture(scope="session")
def docs_pdf(docs):
    """Driver-side copy for pure-Python oracle checks (small fixture only)."""
    return docs.toPandas()
