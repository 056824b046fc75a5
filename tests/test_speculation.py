"""Speculative next-round selection: a round leaves the next round's
selection filling in the background, and every engine call that drops
that selection (the end of run(), add_seeds, resume) joins the fill job
first — no Spark job keeps running and no cached RDD is left behind."""

import pandas as pd
from helpers import slow_background_fill

from crawlspark.engine import CrawlEngine
from crawlspark.synth import SynthConfig, gen_seeds, host_name


def _engine(spark, tmp_path, name):
    cfg = SynthConfig(n_seeds=60, n_hosts=5, max_depth=1)
    seeds = gen_seeds(cfg)
    pol = pd.DataFrame(
        {
            "host": [host_name(i) for i in range(1, 6)],
            "budget": [60 if i <= 2 else 30 for i in range(1, 6)],
        }
    )
    eng = CrawlEngine(spark, str(tmp_path / name), cfg, politeness_pdf=pol, cuckoo_pg=4)
    eng.add_seeds(spark.createDataFrame(seeds))
    return eng, seeds


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _assert_idle(spark, eng, before: set[int]) -> None:
    assert eng._presel is None
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert _persisted(spark) <= before


def test_run_joins_speculation(spark, tmp_path):
    before = _persisted(spark)
    eng, _ = _engine(spark, tmp_path, "run")
    started = slow_background_fill(eng)
    # round 1 schedules round 2, which max_rounds never runs: run()
    # must join and drop that speculation before it returns
    eng.run(max_rounds=2)
    assert len(started) == 2  # rounds 1 and 2 were speculated
    _assert_idle(spark, eng, before)


def test_add_seeds_and_resume_join_speculation(spark, tmp_path):
    before = _persisted(spark)
    eng, seeds = _engine(spark, tmp_path, "calls")
    slow_background_fill(eng)
    eng.run_round(0)
    fill = eng._presel["fill"]
    assert not fill.done()
    eng.add_seeds(spark.createDataFrame(seeds))
    assert fill.done()
    _assert_idle(spark, eng, before)

    eng.run_round(1)
    fill = eng._presel["fill"]
    assert not fill.done()
    assert eng.resume() == 2
    assert fill.done()
    _assert_idle(spark, eng, before)
