from __future__ import annotations

import itertools

import pytest

from lucene_solr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # The suite's corpora are a few thousand docs; session.py's default
    # heap is sized for a large driver, and with it the one JVM of a
    # 20-minute run grows past 13 GB of RSS, enough for the kernel's
    # OOM killer on a 16 GB host. A small heap bounds it.
    s = get_spark(app_name="lss-tests", cores=8, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "4g"})
    yield s


@pytest.fixture(scope="session")
def jobs_stages(spark):
    """count(fn) -> (Spark jobs, their stages) that fn() starts, read
    from the StatusTracker under a job group of its own once the
    listener bus has drained."""
    sc = spark.sparkContext
    groups = itertools.count()

    def count(fn) -> tuple[int, int]:
        group = f"count-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        return len(jobs), len({s for j in jobs
                               for s in st.getJobInfo(j).stageIds})
    return count


@pytest.fixture(scope="session")
def pages_tiny(spark):
    from lucene_solr_spark.sources.webtext import synth_pages

    df = synth_pages(spark, 300, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def tiny_index(spark, pages_tiny):
    from lucene_solr_spark.index.builder import build_index

    idx = build_index(pages_tiny).cache()
    idx.docs.count()
    return idx


@pytest.fixture(scope="session")
def tiny_oracle(pages_tiny):
    from lucene_solr_spark.oracle import OracleIndex

    rows = pages_tiny.select("url", "text").collect()
    docs = [(i, r["text"]) for i, r in enumerate(sorted(rows, key=lambda r: r["url"]))]
    return OracleIndex(docs)


@pytest.fixture(scope="session")
def offsets_index_tiny(spark, pages_tiny):
    from lucene_solr_spark.index.builder import build_index

    idx = build_index(pages_tiny, with_offsets=True).cache()
    idx.docs.count()
    return idx
