"""The benchmark's workloads: ``fresh_crawl`` and ``query_leaves``.

Each workload takes a ``Ctx`` and returns a ``Result``: raw timings,
round counters, and the output checks it ran. Timed regions hold only
calls into the program; checks run after timing.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .tables import TABLES, generate

# Workload sizes. "tiny" is the self-test scale.
SIZES = {
    "full": {"n_seeds": 600, "n_hosts": 50, "table_scale": 0.005, "probe_urls": 1200,
             "codec_images": 200},
    "tiny": {"n_seeds": 60, "n_hosts": 10, "table_scale": 0.002, "probe_urls": 40,
             "codec_images": 10},
}
SETUP_REPS = 3  # the first is cold and warms the JVM; set-up is the median of the rest
PLAN_BUILDS = 2
MIN_PASSES = 3
# rounds 0-4: seeds, outlinks, then three rounds of 504 retries. Every
# seed reaches round 4; a URL that fails a fourth time retries in round
# 5 only for some seeds, so stopping at 5 keeps the round count fixed.
CRAWL_ROUNDS = 5


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    size: dict
    tracer: object = None  # trace.Tracer in a traced run

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()


@dataclass
class Result:
    setup_s: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    steps_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    counters: list[dict] = field(default_factory=list)
    leaf_s: dict[str, list[float]] = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = bool(ok)
        if not ok:
            print(f"CHECK FAILED {name} {detail}".rstrip(), flush=True)


# ------------------------------------------------------------- crawl
def _budget(n_seeds: int):
    # crawlspark.bench_crawl's budgets: every host is still ranked, but
    # no budget binds, so the round count is set by depth and retries
    return lambda hostid: max(2000, 2 * n_seeds // hostid)


def fresh_crawl(ctx: Ctx) -> Result:
    from crawlspark.engine import CrawlEngine
    from crawlspark.golden import simulate
    from crawlspark.synth import SynthConfig, gen_seeds, host_name

    res = Result()
    n, hosts = ctx.size["n_seeds"], ctx.size["n_hosts"]
    cfg = SynthConfig(n_seeds=n, n_hosts=hosts, max_depth=1, retry_backoff_step=0,
                      seed=ctx.seed)
    seeds = gen_seeds(cfg)
    bf = _budget(n)
    pol = pd.DataFrame({"host": [host_name(i) for i in range(1, hosts + 1)],
                        "budget": [bf(i) for i in range(1, hosts + 1)]})
    golden = simulate(list(seeds["url"]), cfg, max_rounds=CRAWL_ROUNDS, budget_fn=bf)

    def setup(k: int):
        wd = os.path.join(ctx.work, f"crawl{k}")
        t0 = time.time()
        # cuckoo stays on the engine's "auto" policy, off at this size
        # (it engages at 2M seen rows); traced runs probe it directly
        eng = CrawlEngine(ctx.spark, wd, cfg, politeness_pdf=pol, cuckoo_pg=8,
                          frontier_buckets=8)
        eng.add_seeds(ctx.spark.createDataFrame(seeds))
        if k == 0:
            res.report["cold_setup_s"] = (time.time() - t0, "s")
        else:
            res.setup_s.append(time.time() - t0)
        return eng, wd

    # the first set-ups also warm the JVM and the Python workers
    for k in range(SETUP_REPS - 1):
        setup(k)
    k = SETUP_REPS - 1
    measured = 0.0
    while True:
        eng, wd = setup(k)
        one_round = eng.run_round

        def timed_round(r, _orig=one_round):
            t0 = time.time()
            try:
                return _orig(r)
            finally:
                res.steps_s.append(time.time() - t0)

        eng.run_round = timed_round
        n_before = len(res.steps_s)
        t0 = time.time()
        counters = eng.run(max_rounds=CRAWL_ROUNDS)
        res.pass_s.append(time.time() - t0)
        res.attempted += len(res.steps_s) - n_before
        res.counters.extend(counters)
        t0 = time.time()
        pub = eng.publish_dedup()
        res.attempted += 1
        publish_s = time.time() - t0
        measured += res.pass_s[-1] + publish_s
        res.report["publish_s"] = (publish_s, "s")
        _check_crawl(ctx, res, eng, golden, pub, k)
        k += 1
        if measured >= ctx.seconds:
            break

    sel = sum(c["selected"] for c in res.counters)
    fetched = sum(c["fetched"] for c in res.counters)
    wall = sum(res.pass_s)
    images = _du(os.path.join(wd, "images", "data"))
    res.report.update({
        "urls_per_s": (sel / wall, "1/s"),
        "fetch_rows_per_s": (fetched / wall, "1/s"),
        "round_p50_s": (statistics.median(res.steps_s), f"s over {len(res.steps_s)} rounds"),
        "space_amp": (_du(wd) / max(1, images), "ratio"),
    })
    return res


def _check_crawl(ctx: Ctx, res: Result, eng, golden, pub: dict, k: int) -> None:
    from crawlspark.codec import decode, synth_image

    spark = ctx.spark
    cast = {"round_id": "int64", "rank": "int64", "status": "int64", "retry_count": "int64"}
    log = eng.fetch_log.read(spark).toPandas()
    keys = ["round_id", "host", "rank"]
    go = golden.fetch_order.sort_values(keys).reset_index(drop=True).astype(cast)
    log = log.sort_values(keys).reset_index(drop=True)[list(go.columns)].astype(cast)
    res.check(f"crawl{k}.fetch_order_eq_golden", len(log) > 0 and log.equals(go),
              f"{len(log)} vs {len(go)} rows")
    seen = eng.seen.read(spark).toPandas().sort_values("url").reset_index(drop=True)
    gs = golden.url_seen.sort_values("url").reset_index(drop=True)
    c = {"status": "int64", "round_id": "int64", "url_hash": "int64"}
    res.check(f"crawl{k}.url_seen_eq_golden",
              seen[list(gs.columns)].astype(c).equals(gs.astype(c)),
              f"{len(seen)} vs {len(gs)} rows")
    rows = eng.images.read(spark).orderBy("image_id").limit(24).collect()
    ok = bool(rows)
    for r in rows:
        want = synth_image(r["url"])
        ok &= (r["caption"] == want["caption"] and r["fmt"] == want["fmt"]
               and r["phash"] == want["phash"] and (r["w"], r["h"]) == (want["w"], want["h"])
               and np.array_equal(decode(bytes(r["bytes"]), r["fmt"]),
                                  decode(want["bytes"], want["fmt"])))
    res.check(f"crawl{k}.image_invariants", ok)
    n_img = eng.images.read(spark).count()
    res.check(f"crawl{k}.publish", pub.get("rows", -1) >= 0 and 0 <= pub.get("dup_images", -1) <= n_img)


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


# ------------------------------------------------------------ queries
def query_leaves(ctx: Ctx) -> Result:
    import __spark_entry__ as E
    from bench import HEADLINE

    res = Result()
    data = os.path.join(ctx.work, "tables")
    generate(data, ctx.seed, ctx.size["table_scale"])
    qs = E.queries()
    spark = ctx.spark

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm pass: plans, codegen and the Python workers; its collected
    # results are what the output checks compare with the oracles
    t_warm = time.time()
    outputs = {}
    for name in HEADLINE:
        with ctx.span(f"warm.{name}"):
            outputs[name] = qs[name](spark, data).toPandas()
    res.report["warm_pass_s"] = (time.time() - t_warm, "s")
    # set-up: building the 16 plans, twice; the second set is timed
    for _ in range(PLAN_BUILDS):
        t0 = time.time()
        plans = {name: qs[name](spark, data) for name in HEADLINE}
        res.setup_s.append(time.time() - t0)
    rng = random.Random(ctx.seed)
    order = list(HEADLINE)
    t_start = time.time()
    n_pass = 0
    while n_pass < MIN_PASSES or time.time() - t_start < ctx.seconds:
        rng.shuffle(order)
        for name in order:
            res.attempted += 1
            with ctx.span(f"ops.{name}"):
                t0 = time.time()
                noop(plans[name])
                res.leaf_s.setdefault(name, []).append(time.time() - t0)
        n_pass += 1
    med = {k: statistics.median(v) for k, v in res.leaf_s.items()}
    res.steps_s = sorted(med.values())
    total = sum(med.values())
    res.pass_s = [total]
    res.report.update({
        "queries_total_s": (total, f"s, {n_pass} passes"),
        "queries_geomean_s": (statistics.geometric_mean(med.values()), "s"),
    })
    t0 = time.time()
    _check_queries(res, outputs, E.oracle_sql(), data)
    res.report["check_s"] = (time.time() - t0, "s")
    return res


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def rounding_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Equal, except that a float may differ by one unit in its last
    rounded digit: ``round(sum(x), 2)`` over doubles summed in another
    order can land on either side of a rounding boundary."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    fl = [c for c in cols if a[c].dtype.kind == "f" or b[c].dtype.kind == "f"]
    keys = [c for c in cols if c not in fl]
    a = a[cols].sort_values(keys + fl).reset_index(drop=True)
    b = b[cols].sort_values(keys + fl).reset_index(drop=True)
    if not a[keys].astype(str).equals(b[keys].astype(str)):
        return False
    for c in fl:
        x, y = a[c].to_numpy(float), b[c].to_numpy(float)
        digits = [max(_decimals(u), _decimals(v)) for u, v in zip(x, y)]
        if not all(abs(u - v) <= 1.000001 * 10.0 ** -d for u, v, d in zip(x, y, digits)):
            return False
    return True


def _decimals(v: float) -> int:
    r = repr(round(float(v), 6))
    return len(r.split(".")[1]) if "." in r and "e" not in r else 0


def _check_queries(res: Result, outputs: dict, oracles: dict, data: str) -> None:
    import duckdb
    from tools.check_oracles import _norm

    from crawlspark.codec import synth_image

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for name, mine in outputs.items():
        if name in oracles:
            ref = con.execute(oracles[name]).df()
            a, b = _norm(mine), _norm(ref)
            ok = len(a) > 0 and list(a.columns) == list(b.columns)
            if ok and value_hash(a) != value_hash(b):
                ok = rounding_equal(mine, ref)
                print(f"note {name}: value hashes differ; equal up to a last-digit "
                      f"rounding flip: {ok}", flush=True)
            res.check(f"{name}.oracle_hash", ok, f"{len(a)} vs {len(b)} rows")
        else:
            # codec leaf, no SQL oracle: one image per document, and a
            # sample re-synthesized from its URL agrees on the codec fields
            docs = con.execute("SELECT doc_id, source FROM documents").df()
            src = dict(zip(docs["doc_id"], docs["source"]))
            n_docs = len(docs)
            ok = len(mine) == n_docs
            for _, r in mine.sort_values("doc_id").head(16).iterrows():
                want = synth_image(f"https://{src[r['doc_id']]}.example.com/img/{r['doc_id']}")
                ok &= (int(r["phash"]) == want["phash"] and r["caption"] == want["caption"]
                       and (int(r["w"]), int(r["h"])) == (want["w"], want["h"]))
            res.check(f"{name}.codec_invariants", ok, f"{len(mine)} rows, {n_docs} docs")
    con.close()


WORKLOADS = {"fresh_crawl": fresh_crawl, "query_leaves": query_leaves}


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
