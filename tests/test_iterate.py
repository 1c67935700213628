"""The shared loop driver (operators/iterate.py): the exact checkpoint
schedule of the fixed-round loops and the observed fixpoint probe."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from catme_etl_j_spark.operators.iterate import fixed_rounds, until_fixpoint


@pytest.fixture
def checkpoints(monkeypatch):
    """Counts of eager and lazy localCheckpoint calls."""
    calls = {"eager": 0, "lazy": 0}
    orig = ClassicDataFrame.localCheckpoint

    def counting(self, eager=True, *a, **k):
        calls["eager" if eager else "lazy"] += 1
        return orig(self, eager, *a, **k)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", counting)
    return calls


def _incr(df, k):
    return df.select("id", (F.col("x") + 1).alias("x"))


# (rounds, every) as the callers run them: pagerank_users (5, 5), LPA
# (6, 2), CC (5, 2), Katz (4, 2), and the untruncated test hook (n, 0)
@pytest.mark.parametrize(
    "rounds, every, eager, lazy",
    [(5, 5, 0, 2), (6, 2, 2, 2), (5, 2, 2, 1), (4, 2, 1, 2), (5, 0, 0, 0)],
)
def test_fixed_rounds_schedule(spark, checkpoints, rounds, every, eager, lazy):
    state = spark.range(4).withColumn("x", F.col("id"))
    final, prev = fixed_rounds(state, _incr, rounds, every)
    assert checkpoints == {"eager": eager, "lazy": lazy}
    # prev is the state entering round K; final has run all K rounds
    assert sorted(r.x - r.id for r in prev.collect()) == [rounds - 1] * 4
    assert sorted(r.x - r.id for r in final.collect()) == [rounds] * 4


def test_until_fixpoint_stops_on_probe_one_job_per_round(spark, checkpoints):
    """Values count down to 0; the probe (their sum) reports the
    fixpoint on round 3. Each round is one job — the eager checkpoint
    that resolves the probe — and no round runs past the fixpoint."""
    sc = spark.sparkContext
    state = spark.range(4).withColumn("v", F.col("id"))

    def step(df, k, watch):
        nxt = df.select("id", F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))
        return watch(nxt, F.sum("v"))

    sc.setJobGroup("iterate-fixpoint", "test")
    try:
        hist = until_fixpoint(state, step, lambda s: s == 0, max_rounds=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(hist) == 3
    assert checkpoints == {"eager": 3, "lazy": 0}
    assert len(sc.statusTracker().getJobIdsForGroup("iterate-fixpoint")) == 3
    ckpt, final = hist[-1]
    assert final is ckpt
    assert [r.v for r in final.collect()] == [0, 0, 0, 0]


def test_until_fixpoint_max_rounds_and_carry(spark, checkpoints):
    """Two probes in one round arrive in watch order; ``max_rounds``
    bounds a loop that never converges; a carried state is lazily
    checkpointed after the round's eager probe checkpoint."""
    state = spark.range(3).withColumn("v", F.col("id"))
    seen = []

    def step(df, k, watch):
        a = watch(df.select("id", (F.col("v") + 1).alias("v")), F.max("v"))
        return watch(a.select("id", (F.col("v") * 2).alias("v")), F.max("v"))

    def done(m1, m2):
        seen.append((m1, m2))
        return False

    def carry(prev, ckpt):
        return ckpt.select("id", (F.col("v") - 1).alias("v"))

    hist = until_fixpoint(state, step, done, max_rounds=2, carry=carry)
    assert len(hist) == 2
    assert checkpoints == {"eager": 2, "lazy": 2}
    # round 1: max 2 -> 3 -> 6, carried to 5; round 2: 6 -> 12
    assert seen == [(3, 6), (6, 12)]
    # round 2 starts from the carried [1, 3, 5]: -> [4, 8, 12] -> [3, 7, 11]
    assert sorted(r.v for r in hist[-1][1].collect()) == [3, 7, 11]


@pytest.mark.slow
def test_warm_loop_pass_compiles_nothing(spark, sf_dir):
    """The loop queries' generated classes fit the session's codegen
    cache (``session.CODEGEN_CACHE_ENTRIES``): a second pass of the
    LPA + MinHash-keep pair compiles no class. At Spark's default of
    100 entries the LRU evicts each class before its next use and every
    warm pass recompiles most of them.

    AQE is off for the two passes: its runtime re-planning picks a join
    side from whichever stage finishes first, so a warm pass can meet a
    plan variant (new code, not a recompile) that the first pass did
    not. Static plans make the second pass's code exactly the first's."""
    import __spark_entry__ as entry_mod

    for q in spark.streams.active:
        q.stop()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    queries = entry_mod.queries()
    names = ("graph_lpa_communities", "dedup_minhash_keep")

    def one_pass():
        for name in names:
            spark.catalog.clearCache()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        one_pass()
        before = compiles.getCount()
        one_pass()
        assert compiles.getCount() - before == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
