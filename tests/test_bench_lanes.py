"""Every bench.py lane runs to completion on the test session.

The lane bodies call the operators directly, so an operator change that
breaks a lane shows here instead of at the next bench run. bench.main()
is not called: it builds and stops its own host-sized session, which
would be the shared fixture session here."""

import bench


def test_diagnostic_lanes_are_lanes(spark, sf_dir):
    assert bench.DIAGNOSTIC <= set(bench.lanes(spark, sf_dir, 4))


def test_every_lane_runs(spark, sf_dir):
    failed = {}
    for name, fn in bench.lanes(spark, sf_dir, 4).items():
        try:
            fn()
        except Exception as e:  # report every broken lane, not the first
            failed[name] = f"{type(e).__name__}: {e}"[:300]
    assert not failed, failed
