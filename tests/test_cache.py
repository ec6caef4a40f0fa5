"""Campaign-cache owner (``cache.py``): memoization per (session, tag,
key) and release by tag."""

from __future__ import annotations

from pyspark import StorageLevel

from mqtt_influx_storage_service_spark import cache


def test_release_unpersists_frames_and_drops_plain_values(spark, owned):
    """A frame value, a frame inside a tuple value (the candidate set
    and its count, the MMR pool and picks) and a plain value (the
    over-cap bool, even when False) are each memoized once; releasing a
    tag unpersists its frames and leaves every other tag resident."""
    frame = cache.campaign(spark, "t_frame", "k", lambda: spark.range(5).persist())
    pair = cache.campaign(spark, "t_pair", "k", lambda: (spark.range(7).persist(), 7))
    assert cache.campaign(spark, "t_plain", "k", lambda: False) is False
    assert cache.campaign(spark, "t_plain", "k", lambda: True) is False
    assert cache.campaign(spark, "t_frame", "k", lambda: None) is frame
    frame.count()
    pair[0].count()

    assert cache.release(spark, "t_pair") == 1
    assert pair[0].storageLevel == StorageLevel.NONE
    assert frame.storageLevel.useMemory and owned("t_plain") == {"k": False}
    assert cache.release(spark, "t_frame", "t_plain") == 2
    assert frame.storageLevel == StorageLevel.NONE
    assert not owned("t_frame") and not owned("t_plain")
    assert cache.release(spark, "t_frame", "t_plain", "t_pair") == 0
