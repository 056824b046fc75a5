"""crawlspark benchmark: one workload, one process, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload fresh_crawl --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
workload with every layer module wrapped in spans and the Spark event
log on, and prints the per-layer metrics. Before the JSON line the run
prints a report: every metric by name with its unit, the output checks,
and (traced) the tracing overhead. Any failed output check or raised
operation exits 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SHUFFLE_PARTITIONS = 4


def _host_env(work: str) -> int:
    """Keep every write inside the checkout and size the JVM to the box;
    must run before pyspark or crawlspark is imported."""
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 2**20
    # get_spark defaults the driver heap to 48g. Both workloads fit in
    # 1g; a small cap also stops the JVM's lazy heap growth from
    # dominating the process-tree RSS
    os.environ["CRAWLSPARK_DRIVER_MEM"] = "1g" if total_gb >= 4 else "512m"
    os.environ["CRAWLSPARK_IMG_SCALE"] = "2"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    return ncpu


def _spark(workload: str, work: str, ncpu: int, trace: bool):
    from crawlspark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if workload == "fresh_crawl":
        # the crawl settings of crawlspark.bench_crawl: per-round plans are
        # partition-bounded, so AQE only adds per-stage latency
        conf.update({
            "spark.sql.adaptive.enabled": "false",
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
            "spark.locality.wait": "0",
        })
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"local[{ncpu}]", app_name=f"perfbench-{workload}",
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
                     fair_jobs=workload == "fresh_crawl")


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, then wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.trace import tree_pids

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def _probes(spark, size: dict, tracer) -> dict[str, float]:
    """Direct layer probes: the cold spawn of the Python workers (which
    untraced runs leave to add_seeds and the query warm-up), the codec
    on its own, then the fetch stage into a no-op sink."""
    from crawlspark.codec import synth_image
    from crawlspark.fetch import fetch_images, warm_workers

    from perfbench.trace import tree_cpu_s

    t0 = time.perf_counter()
    warm_workers(spark)
    warm_s = time.perf_counter() - t0
    n = size["codec_images"]
    t0 = time.perf_counter()
    for i in range(n):
        synth_image(f"https://probe.example.com/img/{i}")
    us = (time.perf_counter() - t0) / n * 1e6
    urls = (
        spark.range(size["probe_urls"])
        .selectExpr("concat('https://probe.example.com/img/', cast(id as string)) as url")
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    urls.count()
    cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
    with tracer.span("fetch.stage_probe"):
        fetch_images(urls).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s(os.getpid()) - cpu0
    urls.unpersist()
    return {"fetch.warm_workers_s": warm_s, "codec.us_per_image": us,
            "fetch.stage_rows_per_s": size["probe_urls"] / wall, "fetch.cpu_s": cpu}


def _cuckoo_probe(spark, size: dict, work: str) -> bool:
    """The URL-seen filter on its own: insert half of a URL set, then
    split the whole set. Every inserted URL must come back maybe-seen."""
    from crawlspark.urlseen import CuckooSeen

    n = size["probe_urls"]
    urls = spark.range(n).selectExpr(
        "concat('https://probe.example.com/img/', cast(id as string)) as url", "id")
    ck = CuckooSeen(os.path.join(work, "cuckoo_probe"), n_pg=8)
    ck.insert(urls.filter("id % 2 = 0").select("url"))
    new, maybe = ck.split_candidates(urls.select("url"))
    maybe_urls = {r["url"] for r in maybe.collect()}
    ck.release_caches()
    return all(f"https://probe.example.com/img/{i}" in maybe_urls for i in range(0, n, 2))


def _merge_probe(spark, work: str) -> bool:
    """A bucketed MERGE on its own (a fresh crawl never upserts): insert
    1,200 keys, then upsert 1,200 of which half are new."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from crawlspark.snaptable import BucketedTable

    t = BucketedTable(os.path.join(work, "merge_probe"), 4)
    t.commit_empty(T.StructType([T.StructField("url", T.StringType(), False),
                                 T.StructField("v", T.IntegerType(), False)]))
    bucket = F.pmod(F.xxhash64("url"), F.lit(4))
    for lo, v in ((0, 0), (600, 1)):
        rows = spark.range(lo, lo + 1200).selectExpr("concat('u', id) as url", f"{v} as v")
        t.merge(rows, ["url"], bucket_col=bucket)
    counts = {r["v"]: r["count"] for r in t.read(spark).groupBy("v").count().collect()}
    return counts == {0: 600, 1: 1200}


def _layer_metrics(tracer, jobs, res, probes: dict, leaves: list[str]) -> dict[str, float]:
    m = dict(probes)
    rounds = tracer.closed("engine.CrawlEngine.run_round")
    n_rounds = max(1, len(rounds))
    sel = sum(c["selected"] for c in res.counters)
    pend = sum(c["pending"] for c in res.counters)
    den = sum(c["denied"] for c in res.counters)
    fet = sum(c["fetched"] for c in res.counters)
    m["fetch.useful_ratio"] = fet / sel if sel else 0.0
    busy = tracer.busy

    def jobs_where(pred) -> list:
        return [j for j in jobs if pred(j)]

    for op in ("append", "merge", "replace_buckets", "overwrite", "expire"):
        # SnapTable.<op> and BucketedTable.<op>
        m[f"snaptable.{op}_s"] = busy(f"Table.{op}")
    snap = jobs_where(lambda j: j.description.startswith("snaptable."))
    m["snaptable.rows_written"] = sum(j.rows_written for j in snap)
    m["snaptable.bytes_written"] = sum(j.bytes_written for j in snap)
    m["snaptable.cpu_s"] = sum(j.cpu_s for j in snap)
    m["snaptable.shuffle_bytes"] = sum(j.shuffle_bytes for j in snap)

    m["engine.round_self_s"] = sum(tracer.span_self_time(s) for s in rounds)
    in_round = jobs_where(lambda j: any(s.start <= j.submitted <= s.end for s in rounds))
    m["engine.jobs_per_round"] = len(in_round) / n_rounds if rounds else 0.0
    m["engine.tasks_per_round"] = sum(j.tasks for j in in_round) / n_rounds if rounds else 0.0
    m["engine.add_seeds_s"] = busy("CrawlEngine.add_seeds")

    m["urlseen.insert_s"] = busy("CuckooSeen.insert")
    m["urlseen.insert_rows"] = sum(
        j.shuffle_records for j in jobs_where(lambda j: j.description == "urlseen.CuckooSeen.insert")
    )
    m["politeness.selected_ratio"] = sel / (pend - den) if pend - den > 0 else 0.0
    m["politeness.denied_rows"] = den

    for leaf in leaves:
        t = res.leaf_s.get(leaf)
        lj = jobs_where(lambda j, leaf=leaf: j.description == f"ops.{leaf}")
        n_exec = max(1, len(t or []))
        m[f"ops.{leaf}_s"] = statistics.median(t) if t else 0.0
        m[f"ops.{leaf}_cpu_s"] = sum(j.cpu_s for j in lj) / n_exec
        m[f"ops.{leaf}_shuffle_bytes"] = sum(j.shuffle_bytes for j in lj) / n_exec
    pubs = tracer.closed("engine.CrawlEngine.publish_dedup")
    m["ops.publish_cpu_s"] = sum(
        j.cpu_s for j in jobs_where(lambda j: any(s.start <= j.submitted <= s.end for s in pubs))
    )
    m["spark.gc_s"] = sum(j.gc_s for j in jobs)
    m["spark.spill_bytes"] = sum(j.spill_bytes for j in jobs)
    m["spark.task_failures"] = sum(j.failed_tasks for j in jobs)
    m["trace.spans"] = len(tracer.spans)
    return m


def _span_cost(tracer, n: int = 500) -> float:
    """Seconds one wrapped call adds: open + close of a span, including
    the two job-description updates it makes."""
    t0 = time.perf_counter()
    for _ in range(n):
        tracer.close(tracer.open("trace.cost_probe"))
    cost = (time.perf_counter() - t0) / n
    del tracer.spans[-n:]
    return cost


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test scale")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "crawlspark")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"error: no crawlspark checkout at {ROOT}", file=sys.stderr)
        return 2
    from perfbench import workloads as W
    from perfbench.trace import RssSampler, Tracer, read_event_log

    if args.workload not in W.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    W.reset_dir(WORK)  # sweep whatever an earlier run left
    ncpu = _host_env(WORK)
    trace = bool(args.trace)
    size = W.SIZES[args.size]

    with RssSampler() as rss:
        t0 = time.time()
        spark = _spark(args.workload, WORK, ncpu, trace)
        session_s = time.time() - t0
        tracer = Tracer(f"{args.workload}-{args.seed}", spark.sparkContext if trace else None)
        ctx = W.Ctx(spark, os.path.join(WORK, "run"), args.seed, args.seconds, size,
                    tracer if trace else None)
        W.reset_dir(ctx.work)
        probes, probe_ok, error = {"session.start_s": session_s}, {}, None
        try:
            if trace:
                probes.update(_probes(spark, size, tracer))
                tracer.instrument()
                probe_ok = {"urlseen.no_false_negatives": _cuckoo_probe(spark, size, WORK),
                            "snaptable.merge_upserts": _merge_probe(spark, WORK)}
            res = W.WORKLOADS[args.workload](ctx)
        except Exception as e:  # an operation raised: count it, report, fail
            import traceback

            traceback.print_exc()
            error = e
            res = W.Result(attempted=1, failed=1)
        finally:
            tracer.restore()
            span_cost = _span_cost(tracer) if trace else 0.0
            _stop_spark(spark)
    peak_mb = rss.peak / 2**20

    report = dict(res.report)
    if res.setup_s:
        report["setup_s"] = (statistics.median(res.setup_s), f"s, median of {len(res.setup_s)}")
    report["peak_rss_mb"] = (peak_mb, "MB")
    report["error_rate"] = (res.failed / max(1, res.attempted), "ratio")
    for name, ok in probe_ok.items():
        res.check(name, ok)
    correct = error is None and bool(res.checks) and all(res.checks.values())
    for k in sorted(report):
        v, unit = report[k]
        print(f"metric {k} = {v:.6g} {unit}")
    for k, ok in sorted(res.checks.items()):
        print(f"check {k}: {'ok' if ok else 'FAILED'}")

    if trace:
        jobs = read_event_log(os.path.join(WORK, "eventlog"))
        from bench import HEADLINE

        metrics = _layer_metrics(tracer, jobs, res, probes, HEADLINE)
        metrics["trace.pass_s"] = statistics.median(res.pass_s) if res.pass_s else 0.0
        metrics["trace.overhead_s"] = metrics["trace.spans"] * span_cost
        tracer.dump(os.path.join(WORK, "spans.jsonl"))
        print(f"tracing overhead: {metrics['trace.spans']} spans x {span_cost * 1e6:.1f} us"
              f" = {metrics['trace.overhead_s']:.3f} s; traced pass {metrics['trace.pass_s']:.3f} s"
              " (compare with the untraced pass_s)")
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        ok = bool(res.pass_s and res.setup_s and res.steps_s)
        out = {
            "setup_s": {"value": statistics.median(res.setup_s) if ok else 0.0, "unit": "s"},
            "pass_s": {"value": statistics.median(res.pass_s) if ok else 0.0, "unit": "s"},
            "step_p50_s": {"value": statistics.median(res.steps_s) if ok else 0.0, "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    print(json.dumps({"correct": correct, "attempted": max(1, res.attempted),
                      "failed": res.failed, "metrics": out}), flush=True)
    return 0 if correct and res.failed == 0 else 1


def layer_unit(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("us_per_image", "us"), ("_s", "s"),
                         ("bytes", "B"), ("bytes_written", "B"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
