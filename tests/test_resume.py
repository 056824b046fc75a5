"""Kill-resume: a crawl killed mid-round (partial table writes, no round
manifest) must resume and finish bit-identically to an uninterrupted run
(north_rule: 'a killed run resumes bit-identically')."""

import pandas as pd
from helpers import slow_background_fill

from crawlspark.engine import CrawlEngine
from crawlspark.synth import SynthConfig, gen_seeds, host_name


def _mk(spark, tmp_path, name, cfg, pol, seeds):
    eng = CrawlEngine(spark, str(tmp_path / name), cfg, politeness_pdf=pol, cuckoo_pg=4)
    eng.add_seeds(spark.createDataFrame(seeds))
    return eng


def test_kill_resume_bit_identical(spark, tmp_path):
    cfg = SynthConfig(n_seeds=60, n_hosts=5, max_depth=1)
    seeds = gen_seeds(cfg)
    pol = pd.DataFrame(
        {
            "host": [host_name(i) for i in range(1, 6)],
            "budget": [60 if i <= 2 else 30 for i in range(1, 6)],
        }
    )
    full = _mk(spark, tmp_path, "full", cfg, pol, seeds)
    full.run(max_rounds=25)

    broken = _mk(spark, tmp_path, "broken", cfg, pol, seeds)
    broken.run(max_rounds=25, stop_after=2)
    # crash mid-round-2: partial appends land, round manifest does not
    junk_f = spark.createDataFrame(
        [("https://junk.example.com/x", 0, 99, 0, 0, -1, "junk.example.com", 0.5)],
        "url string, retry_count int, not_before int, depth int, hops int, "
        "etag_round int, host string, priority double",
    )
    broken.frontier.append(junk_f)
    broken.seen.append(
        spark.createDataFrame(
            [("https://junk.example.com/x", 1, 200, 2)],
            "url string, url_hash long, status int, round_id int",
        )
    )
    resumed = CrawlEngine(
        spark, str(tmp_path / "broken"), cfg, politeness_pdf=pol, cuckoo_pg=4
    )
    resumed.run(max_rounds=25)
    _assert_same_tables(spark, full, resumed)


def _assert_same_tables(spark, full, resumed):
    for attr in ("images", "seen", "fetch_log", "frontier"):
        a = getattr(full, attr).read(spark)
        b = getattr(resumed, attr).read(spark)
        cols = [c for c in a.columns if c != "bytes"]
        pa = a.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
        pb = b.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(pa, pb)
        if "bytes" in a.columns:
            ha = sorted(r[0] for r in a.selectExpr("md5(bytes)").collect())
            hb = sorted(r[0] for r in b.selectExpr("md5(bytes)").collect())
            assert ha == hb


def test_kill_resume_while_speculation_runs(spark, tmp_path):
    """A crash right after a round whose next-round speculation is still
    filling: the restarted engine replays bit-identically."""
    cfg = SynthConfig(n_seeds=60, n_hosts=5, max_depth=1)
    seeds = gen_seeds(cfg)
    pol = pd.DataFrame(
        {
            "host": [host_name(i) for i in range(1, 6)],
            "budget": [60 if i <= 2 else 30 for i in range(1, 6)],
        }
    )
    full = _mk(spark, tmp_path, "full", cfg, pol, seeds)
    full.run(max_rounds=25)

    killed = _mk(spark, tmp_path, "killed", cfg, pol, seeds)
    started = slow_background_fill(killed)
    for r in (0, 1):
        killed.run_round(r)
    assert len(started) == 2 and not killed._presel["fill"].done()
    # the "killed" engine is abandoned mid-speculation; a new process
    # resumes from the committed manifests
    resumed = CrawlEngine(
        spark, str(tmp_path / "killed"), cfg, politeness_pdf=pol, cuckoo_pg=4
    )
    resumed.run(max_rounds=25)
    _assert_same_tables(spark, full, resumed)
    killed._discard_presel()


def test_resume_restores_auto_cuckoo_state(spark, tmp_path):
    """The auto-cuckoo seen-row counter is manifest-persisted: a resumed
    engine whose predecessor crossed the threshold must come back with
    the filter already engaged (not silently restart from 0 and crawl
    exact-only until the counter rebuilds)."""
    cfg = SynthConfig(n_seeds=60, n_hosts=5, max_depth=1)
    seeds = gen_seeds(cfg)
    pol = pd.DataFrame(
        {
            "host": [host_name(i) for i in range(1, 6)],
            "budget": [60 if i <= 2 else 30 for i in range(1, 6)],
        }
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path / "ac"),
        cfg,
        politeness_pdf=pol,
        cuckoo_pg=4,
        cuckoo_auto_min=30,
    )
    eng.add_seeds(spark.createDataFrame(seeds))
    eng.run(max_rounds=25, stop_after=3)
    assert eng.cuckoo_on and eng._seen_rows >= 30

    fresh = CrawlEngine(
        spark,
        str(tmp_path / "ac"),
        cfg,
        politeness_pdf=pol,
        cuckoo_pg=4,
        cuckoo_auto_min=30,
    )
    assert not fresh.cuckoo_on  # pre-resume: counter not yet loaded
    fresh.resume()
    assert fresh._seen_rows == eng._seen_rows
    assert fresh._cuckoo_upto == eng._cuckoo_upto
    assert fresh.cuckoo_on  # filter engaged immediately after resume
