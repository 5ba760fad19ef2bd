"""tools/profile_query.profile_once: per-phase py4j commands and jobs."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from conftest import SF_DIR as SF  # noqa: E402
from profile_query import profile_once  # noqa: E402


def test_profile_counts_py4j_commands_and_jobs_per_phase(spark):
    def query(spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = df.count()  # a driver job inside construction
        return df.groupBy("lang").count().limit(n)

    p = profile_once(spark, query, SF, "test-profile")
    assert p["construct_py4j"] > 0
    assert p["construct_jobs"] >= 1
    assert p["execute_jobs"] >= 1
    assert p["total_s"] >= p["construct_s"] + p["execute_s"] - 1e-6
