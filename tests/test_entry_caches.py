"""The entry contract's per-application caches hold only the live
SparkContext's entry: a lookup after a session restart (new applicationId)
drops the dead context's entry instead of accumulating persisted frames."""

import __spark_entry__ as E


def test_tiles_cache_keeps_only_live_app(spark):
    live = spark.sparkContext.applicationId
    prior = E._TILES_CACHE.get(live)
    E._TILES_CACHE.clear()
    E._TILES_CACHE["app-stopped-context"] = None
    tiles = E._tiles(spark)
    assert list(E._TILES_CACHE) == [live]
    assert E._tiles(spark) is tiles  # the live id hits
    # the layer and py-files slots share the same one-entry policy
    for slot in (E._LAYER_CACHE, E._PYFILES_SENT):
        assert list(slot) == [live]
    if prior is not None:  # hand the session its original frame back
        tiles.unpersist()
        E._TILES_CACHE[live] = prior
