"""obs/profile: one call's AppStatusStore evidence and an executed-plan hash
that two warm calls of the same query share."""

import pytest

from aristoteles_spark.obs.profile import profile
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("name", ["g1_pricing_summary", "ir2_hybrid_rrf"])
def test_profile_counts_jobs_and_hashes_warm_plans_equal(spark, name):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    fn(spark, SF_SMOKE).collect()  # warm-up: shared tables are built here
    first, second = (profile(spark, name, fn, SF_SMOKE, n) for n in range(2))
    for p in (first, second):
        assert p["jobs"] > 0 and p["tasks"] > 0 and p["input_bytes"] > 0, p
        assert p["result_rows"] > 0
        assert p["driver_s"] == pytest.approx(p["wall_s"] - p["job_s"], abs=2e-3)
    assert first["plan_hash"] == second["plan_hash"]
