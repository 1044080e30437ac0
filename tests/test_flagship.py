"""The in-memory flagship composition: the pinned synth triple set against
its golden, and the per-application cache that shares it."""

import os

from careers_spark.plans import flagship

GOLDEN = os.path.join(
    os.path.dirname(flagship.__file__), os.pardir, "golden", "kg_triples_synth.sql"
)


def test_kg_triples_synth_matches_golden(spark):
    with open(GOLDEN) as f:
        want = {tuple(r) for r in spark.sql(f.read()).collect()}
    got = [tuple(r) for r in flagship.kg_triples_synth(spark).collect()]
    assert len(want) == 71
    assert len(got) == 71
    assert set(got) == want


def test_triples_synth_cache_is_per_application(spark):
    """An entry left by another Spark application is never returned: its
    localCheckpoint blocks died with that application's context."""
    stale = spark.range(1)
    flagship._TRIPLES_SYNTH_CACHE[:] = [("another-application", stale)]
    df = flagship.kg_triples_synth(spark)
    assert df is not stale
    assert df.count() == 71
    assert flagship._TRIPLES_SYNTH_CACHE[0][0] == spark.sparkContext.applicationId
    assert flagship.kg_triples_synth(spark) is df  # same application: shared
