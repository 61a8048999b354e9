"""The session's shared loop and conf machinery.

- `iterate`: the one iteration driver every checkpointed loop runs on
  (closure, fixpoint, both connected-components variants, PageRank,
  PPR, k-core, LPA, HeroQL semi-naive). Pinned on tiny literal frames:
  the checkpoint cadence (rounds k, 2k, … and the last), the early
  stop, both cap policies and the cadence validation.
- `shuffle8_no_aqe_no_broadcast`: the one conf scope for tiny-plan
  fixtures; it must restore all three settings even when its body
  raises (a leaked AQE-off would silently re-plan every later query
  of the shared session).
"""

import pytest
from pyspark.sql import functions as F

from herodb_spark.session import ckpt_count, iterate, literal_df, shuffle8_no_aqe_no_broadcast


def _counting_step(log, stop_at=None):
    """Step over a one-column frame: x ← x + 1 per round. On a
    checkpoint round it materializes through ckpt_count and logs the
    round; it reports no change once x reaches `stop_at`."""
    def step(df, ckpt):
        log["rounds"] += 1
        df = df.select((F.col("x") + 1).alias("x"))
        if ckpt:
            df, _ = ckpt_count(df)
            log["ckpt"].append(log["rounds"])
        done = stop_at is not None and df.first()["x"] >= stop_at
        return df, not done

    return step


def _start(spark):
    return literal_df(spark, [(0,)], "x int")


def test_iterate_cadence_every_k_and_last_round(spark):
    log = {"rounds": 0, "ckpt": []}
    out = iterate(_counting_step(log), _start(spark), 7, every=3)
    assert log["ckpt"] == [3, 6, 7]
    assert out.first()["x"] == 7
    # the last round's checkpoint leaves a materialized frame: no
    # lineage back to the literal (no LocalRelation in the plan)
    assert "LocalRelation" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_iterate_every_none_never_checkpoints(spark):
    log = {"rounds": 0, "ckpt": []}
    out = iterate(_counting_step(log), _start(spark), 4, every=None)
    assert log["ckpt"] == [] and log["rounds"] == 4
    assert out.first()["x"] == 4


def test_iterate_stops_when_step_reports_no_change(spark):
    log = {"rounds": 0, "ckpt": []}
    out = iterate(_counting_step(log, stop_at=2), _start(spark), 10)
    assert log["rounds"] == 2 and log["ckpt"] == [1, 2]
    assert out.first()["x"] == 2


def test_iterate_cap_returns_capped_state(spark):
    log = {"rounds": 0, "ckpt": []}
    out = iterate(_counting_step(log, stop_at=100), _start(spark), 3)
    assert log["rounds"] == 3
    assert out.first()["x"] == 3


def test_iterate_cap_raises_when_asked(spark):
    log = {"rounds": 0, "ckpt": []}
    with pytest.raises(RuntimeError, match="did not converge in 3"):
        iterate(_counting_step(log, stop_at=100), _start(spark), 3,
                cap_error="did not converge in 3 rounds")
    assert log["rounds"] == 3
    # converging ON the last round is not a cap
    log = {"rounds": 0, "ckpt": []}
    out = iterate(_counting_step(log, stop_at=3), _start(spark), 3, cap_error="capped")
    assert out.first()["x"] == 3


def test_iterate_rejects_nonpositive_cadence():
    def step(state, ckpt):
        raise AssertionError("step ran despite an invalid cadence")

    for every in (0, -1):
        with pytest.raises(ValueError, match="cadence"):
            iterate(step, None, 2, every=every)


_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
)


def test_conf_scope_sets_and_restores_all_three_on_raise(spark):
    original = {k: spark.conf.get(k) for k in _KEYS}
    # values that differ from the scope's own, so a missing restore
    # cannot pass by coincidence
    before = {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "12345",
    }
    try:
        for k, v in before.items():
            spark.conf.set(k, v)
        with pytest.raises(KeyError):
            with shuffle8_no_aqe_no_broadcast(spark):
                assert {k: spark.conf.get(k) for k in _KEYS} == {
                    "spark.sql.shuffle.partitions": "8",
                    "spark.sql.adaptive.enabled": "false",
                    "spark.sql.autoBroadcastJoinThreshold": "-1",
                }
                raise KeyError("body failed")
        assert {k: spark.conf.get(k) for k in _KEYS} == before
    finally:
        for k, v in original.items():
            spark.conf.set(k, v)
