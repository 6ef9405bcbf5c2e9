"""scoped_persist keeps only the live application's frames: a key that is
never called again must not pin a stopped session's DataFrames forever."""

from lantern_extras_spark.operators import _cachescope as S


def test_scoped_persist_drops_other_applications(spark):
    stale = ("app-stopped-long-ago", [spark.range(1)])
    S._LIVE["test-stale-key"] = stale
    try:
        (live,) = S.scoped_persist("test-live-key", spark.range(3))
        assert live.count() == 3
        assert "test-stale-key" not in S._LIVE
        app = spark.sparkContext.applicationId
        assert all(entry[0] == app for entry in S._LIVE.values())
    finally:
        S._LIVE.pop("test-stale-key", None)
        for df in S._LIVE.pop("test-live-key", (None, []))[1]:
            df.unpersist()
