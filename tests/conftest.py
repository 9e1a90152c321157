from __future__ import annotations

import pytest

from dbt_repo_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # r13 (r12 verdict ask #2): the suite is a CORRECTNESS gate over
    # sf0.001 fixtures — per-test cost is Spark job latency, not compute,
    # and on the bench host a local[8] session schedules small jobs
    # measurably faster than local[32] (shorter stage tails over fewer
    # oversubscribed task slots). Pinning the test master halves the
    # suite's wall-clock so the driver's bounded pytest gate finishes;
    # results are core-count independent (no test asserts parallelism —
    # the two spark_partition_id asserts count datasource-option-driven
    # partitions). bench.py keeps local[$SPARK_GRAFT_CPUS] untouched.
    s = get_spark(
        app_name="dbt-repo-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield s
    # cost-map broadcasts of finished unigram queries stay pinned until
    # released (queries_scale.release_viterbi_broadcasts)
    from dbt_repo_spark.queries_scale import release_viterbi_broadcasts

    release_viterbi_broadcasts()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
