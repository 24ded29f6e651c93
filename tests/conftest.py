import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[8]")
        .appName("lucenenet_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def wand_runs(monkeypatch):
    """Puts every query on the Spark path and records the terms of each
    run of the block-max WAND plan. The driver seek answers df-bounded
    term and boolean queries itself and ignores ``wand``; a bound of -1
    (not 0) sends even an all-absent query, df sum 0, to Spark."""
    import lucenenet_spark.query.engine as engine

    monkeypatch.setattr(engine, "_SEEK_MAX_ENTRIES", -1)
    runs = []
    search_wand = engine.Searcher._search_wand

    def counted(self, terms, stats, k):
        runs.append(list(terms))
        return search_wand(self, terms, stats, k)

    monkeypatch.setattr(engine.Searcher, "_search_wand", counted)
    return runs
