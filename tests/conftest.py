from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from camden_spark.datagen import Corpus, generate_corpus
from camden_spark.session import default_cores, get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "camden_spark_tests",
        cores=default_cores(),
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(scope="session")
def corpus() -> Corpus:
    return generate_corpus(n_docs=300, seed=42)


@pytest.fixture(scope="session")
def pages_df(spark, corpus):
    df = spark.createDataFrame(corpus.pages)
    df.cache().count()
    return df
