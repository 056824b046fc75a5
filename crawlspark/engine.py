"""CrawlEngine — one crawl round as one DataFrame job, atomically
committed and resumable.

Generalizes the reference's crawl lifecycle
(mendeley/MendeleyDocumentCrawler.java:59-122: pager → retry → handlers
→ atomic alias publish) into:

    pending-frontier scan (ripe rows: not_before <= round)
      → robots filter (denied URLs become seen, consume no budget)
      → per-host politeness budget (salted window rank, total order)
      → status = f(url, retry) (pure, replayable)
      → vectorized fetch of 200s (Arrow batches)
      → appends: images, fetch_log, url_seen(+cuckoo)
      → frontier update: survivors − touched ∪ retries ∪ (outlinks
        ∖ URL-seen via cuckoo pre-filter + exact anti-join)
      → round manifest commit (table snapshot ids + counters + lineage)

Crash recovery: the round manifest names every table's snapshot id; on
resume each table is rolled back to the last committed manifest, so a
killed run replays the next round bit-identically (T4 generalization of
the reference's in-memory nextUrl marker, mendeley/MendeleyPager.java:
87-99, which loses all progress on crash).

The frontier is a MATERIALIZED pending table with the invariant
``pending ∩ seen = ∅`` and exactly one row per URL (retries supersede;
min (not_before, depth) otherwise). Selection is therefore a pure
scan + filter — no per-round reduce over crawl history, no per-round
anti-join of the whole frontier against the seen set. The seen-set
check (cuckoo pre-filter splitting definitely-new from maybe-seen,
exact anti-join only for the maybe slice) runs every round on the NEW
URL stream (outlinks) before it enters the frontier — the only place
it is needed once the invariant holds. The pre-filter itself is
scale-gated (``use_cuckoo="auto"``): below ``cuckoo_auto_min`` seen
rows the exact anti-join is cheaper than the filter machinery and the
engine uses it alone (round-4 A/B in BENCH/NOTES.md). Per-URL reduce is associative
(max over the (retry_count, -not_before, -depth) lattice), so the
incremental merge is exactly equivalent to re-reducing the full
append history. At 10^10 rows the pending and seen tables are
bucketed by url_hash so the per-round merge/anti-join are
storage-partitioned (shuffle-free) joins touching only dirty buckets;
host and priority are materialized at insert so the selection scan
carries no per-round recomputation.
"""

from __future__ import annotations

import functools
import json
import os
import uuid
import warnings
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .canon import canonicalize
from .fetch import (
    expand_outlinks,
    fetch_images,
    redirect_target,
    retry_after_col,
    with_status,
)
from .hashing import h60
from .politeness import filter_robots, filter_robots_rep, select_budget
from .snaptable import BucketedTable, SnapTable, atomic_write_json
from .synth import SynthConfig
from .urlseen import CuckooSeen

ROBOTS_DENIED_STATUS = -1
PERM_FAIL_STATUS = -504
REDIRECT_STATUS = 301
NOT_MODIFIED_STATUS = 304
GONE_STATUS = 404
THROTTLED_STATUS = 429

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("not_before", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        # redirect-chain length that led to this URL (0 for seeds,
        # outlinks and recrawl re-entries); bounds 3xx chains/loops
        T.StructField("hops", T.IntegerType(), False),
        # ETag analogue for conditional refetches: the round of the last
        # 200 (-1 = none). Set ONLY by recrawl re-entries — the one path
        # by which an already-seen URL re-enters the frontier — so the
        # 304 check is row-local SQL, no seen-table join at selection
        T.StructField("etag_round", T.IntegerType(), False),
        # materialized at insert (pure functions of url) so the
        # selection path is a scan, not a recomputation
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
    ]
)
SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("round_id", T.IntegerType(), False),
    ]
)
# adaptive-recrawl seen table: + last content fingerprint and the
# per-URL revisit interval (null on non-200 rows)
ADAPTIVE_SEEN_SCHEMA = T.StructType(
    list(SEEN_SCHEMA.fields)
    + [
        T.StructField("phash", T.LongType(), True),
        T.StructField("ttl", T.IntegerType(), True),
    ]
)
# per-host scheduler state, MERGE-maintained per round (bounded by
# hosts selected that round): AIMD-learned budget (null when
# adaptive_budget is off) and the last round the host was selected
# (drives the min_delay cool-down). Lives in a bucketed table — NOT a
# driver dict — so at 10^7-10^8 hosts the per-round write stays
# O(hosts selected this round) and the round manifest carries only the
# table's snapshot id (r4 VERDICT "What's wrong" #1).
HOST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("budget", T.IntegerType(), True),
        T.StructField("last_round", T.IntegerType(), False),
        # cumulative status-200 bodies fetched (per-host page quota)
        T.StructField("pages", T.IntegerType(), False),
    ]
)
LOG_SCHEMA = T.StructType(
    [
        T.StructField("round_id", T.IntegerType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
    ]
)
IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("round_id", T.IntegerType(), False),
    ]
)
IMAGE_DEDUP_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("keeper_id", T.StringType(), False),
        T.StructField("n_dups", T.LongType(), False),
        T.StructField("is_dup", T.BooleanType(), False),
    ]
)


class _DictAccum:
    """AccumulatorParam merging {partition_id: rows} dicts."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: SynthConfig,
        robots_pdf=None,
        politeness_pdf=None,
        use_cuckoo: bool | str = "auto",
        cuckoo_pg: int = 32,
        cuckoo_every: int = 5,
        cuckoo_auto_min: int | None = None,
        recrawl_after: int | None = None,
        recrawl_adaptive: tuple[int, int] | None = None,
        adaptive_budget: tuple[int, int] | None = None,
        conditional_fetch: bool = False,
        priority_aging: float | None = None,
        snapshot_gc: bool = True,
        frontier_buckets: int = 32,
        reprioritize_every: int | None = None,
        sitemap_pdf=None,
    ) -> None:
        from .synth import gen_politeness, gen_robots

        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg
        self.use_cuckoo = use_cuckoo
        # link-structure-aware scheduling: every k committed rounds,
        # PageRank over the crawled link graph rewrites the pending
        # frontier's priorities (link_ranks + reprioritize). Opt-in —
        # the default hash-priority crawl is the golden-pinned order.
        self.reprioritize_every = reprioritize_every
        # "auto" (default): engage the filter only once the seen table
        # holds >= cuckoo_auto_min rows. Below that the exact anti-join
        # is a cheap broadcast/shuffle and the filter machinery (Arrow
        # membership pass + pg-delta maintenance) is pure overhead —
        # measured ~20% of crawl wall at a 372k-row seen table
        # (BENCH/NOTES.md round-4 A/B). Golden equivalence holds in both
        # modes, so the flip is a pure cost decision.
        self.cuckoo_auto_min = int(
            cuckoo_auto_min
            if cuckoo_auto_min is not None
            else os.environ.get("CRAWLSPARK_CUCKOO_AUTO_MIN", "2000000")
        )
        self._seen_rows = 0  # incremental upper bound; manifest-persisted
        # cuckoo inserts are batched: the filter lags <= cuckoo_every
        # rounds behind, and the lag window is covered by an exact
        # anti-join against the (small) recent slice of url_seen
        self.cuckoo_every = cuckoo_every
        self._cuckoo_upto = -1
        # recrawl TTL (rounds): URLs seen with status 200 re-enter the
        # frontier recrawl_after rounds later and are fetched again;
        # the seen table is then maintained with MERGE (last write
        # wins, upsert-by-url) instead of append — the reference's
        # upsert-by-_id recrawl semantics at crawler scale.
        self.recrawl_after = recrawl_after
        # ADAPTIVE recrawl (min_ttl, max_ttl): per-URL revisit interval
        # learned from observed content change — a refetch whose phash
        # differs from the stored one resets the URL's ttl to min_ttl;
        # an unchanged refetch doubles it up to max_ttl (AIMD-style
        # freshness scheduling, the Cho/Garcia-Molina incremental-
        # crawler policy shape; the SQL-expressible estimator core is
        # the ops/schedops.recrawl_priority gate). State (phash, ttl)
        # lives IN the seen table rows (ADAPTIVE_SEEN_SCHEMA), so the
        # bucketed MERGE maintains it O(delta) and resume needs no
        # extra machinery. Mutually exclusive with the fixed TTL.
        self.recrawl_adaptive = tuple(recrawl_adaptive) if recrawl_adaptive else None
        if self.recrawl_adaptive is not None:
            if recrawl_after is not None:
                raise ValueError("recrawl_after and recrawl_adaptive are exclusive")
            mn, mx = self.recrawl_adaptive
            if not (1 <= mn <= mx):
                raise ValueError(f"need 1 <= min_ttl <= max_ttl, got {mn, mx}")
        # any recrawl mode maintains the seen table with bucketed MERGE
        self._merge_seen = (
            self.recrawl_after is not None or self.recrawl_adaptive is not None
        )
        # ADAPTIVE per-host politeness (min_budget, max_budget): AIMD
        # budgets learned from observed server health — a host that
        # returned any 504 this round gets its next-round budget halved
        # (floor min_budget); a host whose selected rows all succeeded
        # ramps +1 (cap max_budget). The distributed generalization of
        # the reference's fixed page size + retry backoff
        # (ContentCrawlConfiguration.java:87-93): back off sick hosts,
        # ramp healthy ones. Learned budgets live in the host_state
        # table (MERGEd per round, snapshot id in the round manifest),
        # so resume is exact and nothing driver-side grows with host
        # cardinality.
        self.adaptive_budget = tuple(adaptive_budget) if adaptive_budget else None
        if self.adaptive_budget is not None:
            mn, mx = self.adaptive_budget
            if not (1 <= mn <= mx):
                raise ValueError(f"need 1 <= min_budget <= max_budget, got {mn, mx}")
        # CONDITIONAL REVALIDATION (HTTP 304): on recrawl refetches,
        # send the ETag analogue (the content version at the last 200)
        # and let the server short-circuit unchanged content — status
        # 304, no body. The refetch still refreshes the seen row's
        # round_id (and doubles the adaptive ttl: a 304 IS an observed
        # "unchanged"), but skips the fetch body, the image append and
        # the outlink re-expansion. At the 10^10-URL target this turns
        # the recrawl schedule's wasted refetches (BENCH/NOTES.md
        # adaptive-vs-fixed A/B: 46-66% of refetches land unchanged)
        # into header-only exchanges. Requires a recrawl mode.
        self.conditional_fetch = bool(conditional_fetch)
        if self.conditional_fetch and not (
            recrawl_after is not None or recrawl_adaptive is not None
        ):
            raise ValueError("conditional_fetch requires a recrawl mode")
        # PRIORITY AGING (starvation-freedom): selection ranks by
        # priority + alpha * rounds-ripe instead of the raw hash
        # priority. Under a bound budget a low-priority URL would
        # otherwise wait unboundedly behind every newly discovered
        # higher-hash URL on its host; with alpha > 0 its effective
        # priority grows past any fixed priority (< 1) within
        # ceil(1/alpha) rounds, so the wait is bounded by budget
        # turnover. Pure arithmetic on existing columns — no state, no
        # extra I/O, resume-exact by construction.
        self.priority_aging = float(priority_aging) if priority_aging else None
        # snapshot GC (Iceberg expire_snapshots analogue): after each
        # round commit, every table drops manifests/data dirs not
        # reachable from that commit. Without it the per-round frontier
        # overwrite retains one full pending-table copy per round —
        # O(rounds × table size) disk (tmpfs = RAM in the bench).
        self.snapshot_gc = snapshot_gc
        os.makedirs(workdir, exist_ok=True)
        # frontier and seen are hash-bucketed by pmod(url_hash, B): the
        # per-round frontier update and the recrawl-mode seen MERGE
        # rewrite only the buckets containing touched/new/merged URLs
        # (the docstring's storage-partitioned design, now implemented —
        # r2 VERDICT #3/#4). At 10^10 rows raise B so each bucket stays
        # executor-sized; the write volume is O(round delta) regardless.
        self.frontier_buckets = frontier_buckets
        self.frontier = BucketedTable(
            os.path.join(workdir, "frontier"), frontier_buckets
        )
        self.seen = BucketedTable(os.path.join(workdir, "url_seen"), frontier_buckets)
        # per-host scheduler state (HOST_STATE_SCHEMA note above):
        # bucketed by host hash, MERGEd pre-commit each round that the
        # min_delay / adaptive_budget features observe anything. Engines
        # using neither feature never touch it past the empty commit.
        self.host_state = BucketedTable(
            os.path.join(workdir, "host_state"), frontier_buckets
        )
        # images: bytes are zlib-compressed by the codec already —
        # write the parquet uncompressed so the append (which rides the
        # fetch stage on the round's critical path) skips a pointless
        # snappy pass over ~90% of the table's bytes
        self.images = SnapTable(
            os.path.join(workdir, "images"),
            write_options={"compression": "uncompressed"},
        )
        self.fetch_log = SnapTable(os.path.join(workdir, "fetch_log"))
        # image near-dup keeper map (publish_dedup): a DERIVED product
        # over the append-only images table, MERGE-maintained by
        # image_id. Deliberately OUTSIDE the round manifest — a publish
        # is idempotent (recomputing over the same images table yields
        # the same map), so crash recovery needs no rollback hook; a
        # resume that rolled images back simply re-publishes.
        self.image_dedup = BucketedTable(
            os.path.join(workdir, "image_dedup"), frontier_buckets
        )
        # image-embedding table + persisted ANN index (publish_ann_index):
        # derived products like image_dedup — outside the round manifest,
        # idempotently re-publishable, incrementally maintained
        self.image_emb = SnapTable(os.path.join(workdir, "image_emb"))
        from .ops.ivf_index import IvfIndex

        self.ann_index = IvfIndex(os.path.join(workdir, "ann_index"))
        self.cuckoo = CuckooSeen(os.path.join(workdir, "cuckoo"), n_pg=cuckoo_pg)
        self.state_dir = os.path.join(workdir, "state")
        # speculative next-round selection (pending/denied/selected
        # caches), computed under the previous round's fetch stage —
        # purely an overlap optimization, discarded whenever stale
        self._presel: dict | None = None
        os.makedirs(self.state_dir, exist_ok=True)
        from .ops.imageops import ENGINE_EMBED_SCHEMA

        for t, schema in (
            (self.frontier, FRONTIER_SCHEMA),
            (
                self.seen,
                ADAPTIVE_SEEN_SCHEMA
                if self.recrawl_adaptive is not None
                else SEEN_SCHEMA,
            ),
            (self.host_state, HOST_STATE_SCHEMA),
            (self.images, IMAGES_SCHEMA),
            (self.fetch_log, LOG_SCHEMA),
            (self.image_dedup, IMAGE_DEDUP_SCHEMA),
            (self.image_emb, ENGINE_EMBED_SCHEMA),
        ):
            if not t.exists():
                t.commit_empty(schema)
        rp = robots_pdf if robots_pdf is not None else gen_robots(cfg)
        pp = politeness_pdf if politeness_pdf is not None else gen_politeness(cfg)
        # robots dim, two formats: the default (host, path_prefix) deny
        # list, or — when the frame carries a `pattern` column — full
        # REP rules (wildcards, end anchors, allow/disallow with RFC
        # 9309 longest-match + allow-tie-break; ops/robotsrep.py).
        # Patterns compile to regex literals ONCE here; the per-round
        # filter is the same broadcast-join shape either way.
        self._robots_rep = "pattern" in getattr(rp, "columns", [])
        rep_delays: dict[str, int] = {}
        if self._robots_rep:
            from .ops.robotsrep import compile_rep

            rp = rp.copy()
            # Crawl-delay directive (de facto REP extension): folds into
            # the SAME per-host min_delay cool-down the politeness dim
            # configures (max wins when both specify the host)
            if "crawl_delay" in rp.columns:
                for h, d in zip(rp["host"], rp["crawl_delay"]):
                    if int(d) > 1:
                        rep_delays[str(h)] = max(rep_delays.get(str(h), 1), int(d))
            rp["rx"] = rp["pattern"].map(compile_rep)
            rp["spec"] = rp["pattern"].str.len()
            self.robots = spark.createDataFrame(
                rp[["host", "rx", "spec", "allow"]],
                schema="host string, rx string, spec int, allow boolean",
            )
        else:
            self.robots = spark.createDataFrame(
                rp, schema="host string, path_prefix string"
            )
        # per-host crawl cool-down (SURVEY §7.1 politeness.min_delay,
        # generalizing the reference's RateLimiter, ContentfulRestore
        # .java:46): a host SELECTED in round r is ineligible until
        # round r + min_delay. Only hosts with min_delay > 1 need
        # tracking; the CONFIG dim (host -> delay) is bounded by the
        # politeness dim (small by design — it broadcasts), while the
        # DYNAMIC per-host last-selected round lives in the host_state
        # table whose snapshot id rides the round manifest — cool-down
        # state is resume-exact at any host cardinality.
        self._min_delay: dict[str, int] = {}
        if "min_delay" in getattr(pp, "columns", []):
            self._min_delay = {
                str(h): int(d)
                for h, d in zip(pp["host"], pp["min_delay"])
                if int(d) > 1
            }
        # robots Crawl-delay folds into the same cool-down (max wins)
        for h, d in rep_delays.items():
            self._min_delay[h] = max(self._min_delay.get(h, 1), d)
        # the (host, delay) cool-down CONFIG dim — static, broadcast-
        # sized (only hosts with a configured delay > 1); the DYNAMIC
        # per-host last-selected round lives in the host_state table
        self._min_delay_dim = (
            spark.createDataFrame(
                [(h, int(d)) for h, d in sorted(self._min_delay.items())],
                schema="host string, delay int",
            )
            if self._min_delay
            else None
        )
        # PER-HOST CUMULATIVE PAGE QUOTA (reference O2's page-size caps,
        # ContentTypeCrawler.java:49, ContentfulBackup.java:57, lifted
        # from per-request to per-crawl): an optional `max_pages` column
        # in the politeness dim caps the total pages FETCHED (status-200
        # bodies — robots denials, 3xx/404/429/504 and 304 header-only
        # revalidations consume no quota; recrawl refetches DO, every
        # body does) from a host across the whole crawl. Enforced at
        # selection: effective budget = min(budget, max_pages - fetched
        # so far), with the running count in the host_state table.
        # Quota-exhausted hosts' pending rows simply stay pending — a
        # later run with a raised quota resumes them.
        self._max_pages_dim = None
        if "max_pages" in getattr(pp, "columns", []):
            mp = []
            for h, m in zip(pp["host"], pp["max_pages"]):
                if m is None or m != m:  # None / NaN = no quota
                    continue
                if int(m) >= 0:
                    mp.append((str(h), int(m)))
            self._max_pages_dim = (
                spark.createDataFrame(mp, schema="host string, max_pages int")
                if mp
                else None
            )
        pp = pp[["host", "budget"]]
        self.politeness = spark.createDataFrame(pp, schema="host string, budget int")
        # SITEMAP SEED DISCOVERY (robots.txt `Sitemap:` directive → the
        # reference's crawl-bootstrap seeding, README.md:34-48): hosts
        # may advertise a sitemap document (host, xml). The FIRST round
        # a host is selected, its sitemap's canonicalized <loc> entries
        # join the frontier for the next round (seen/pending-idempotent
        # through the same anti-join + per-URL reduce as outlinks).
        # First-contact state is "the host has a host_state row" — the
        # merge tracks every sitemap host ever selected, so discovery is
        # resume-exact and never repeats.
        self.sitemaps = (
            spark.createDataFrame(
                sitemap_pdf[["host", "xml"]], schema="host string, xml string"
            )
            if sitemap_pdf is not None
            else None
        )

    # ----------------------------------------------------------- state
    def _head_path(self) -> str:
        return os.path.join(self.state_dir, "HEAD")

    def last_round(self) -> dict | None:
        try:
            with open(self._head_path()) as f:
                rid = int(f.read().strip())
            with open(os.path.join(self.state_dir, f"round-{rid:06d}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _commit_round(self, round_id: int, counters: dict, lineage: list) -> None:
        manifest = {
            "round_id": round_id,
            "snapshots": {
                "frontier": self.frontier.current_snapshot_id(),
                "url_seen": self.seen.current_snapshot_id(),
                "images": self.images.current_snapshot_id(),
                "fetch_log": self.fetch_log.current_snapshot_id(),
                "cuckoo": self.cuckoo.table.current_snapshot_id(),
                # per-host scheduler state: snapshot id ONLY — the
                # manifest stays O(1) in host cardinality
                "host_state": self.host_state.current_snapshot_id(),
            },
            "cuckoo_upto": self._cuckoo_upto,
            "seen_rows": self._seen_rows,
            "counters": counters,
            "lineage": lineage,
        }
        atomic_write_json(
            os.path.join(self.state_dir, f"round-{round_id:06d}.json"), manifest
        )
        tmp = self._head_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(round_id))
        os.replace(tmp, self._head_path())

    @staticmethod
    def _release_selection(sel: dict | None) -> None:
        """Join a selection's fill job (a speculative one may still be
        running in the background) and drop its caches."""
        if sel is None:
            return
        err = sel["fill"].exception() if sel["fill"] is not None else None
        if err is not None:
            # harmless to the crawl (nothing reads this selection), but
            # a fill that fails here would fail the round that used it
            warnings.warn(f"discarded speculative selection failed: {err!r}")
        for k in ("pending", "denied", "selected"):
            sel[k].unpersist()

    def _discard_presel(self) -> None:
        ps, self._presel = self._presel, None
        self._release_selection(ps)

    def resume(self) -> int:
        """Roll every table back to the last committed round; return the
        next round id. Discards any partial writes from a crashed round."""
        self._discard_presel()
        m = self.last_round()
        if m is None:
            return 0
        snaps = m["snapshots"]
        self.frontier.rollback(snaps["frontier"])
        self.seen.rollback(snaps["url_seen"])
        self.images.rollback(snaps["images"])
        self.fetch_log.rollback(snaps["fetch_log"])
        self.cuckoo.table.rollback(snaps["cuckoo"])
        if "host_state" in snaps:
            self.host_state.rollback(snaps["host_state"])
        self._cuckoo_upto = m.get("cuckoo_upto", -1)
        self._seen_rows = m.get("seen_rows", 0)
        return m["round_id"] + 1

    def _filter_robots(self, pending: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(allowed, denied) under whichever robots format is configured."""
        if self._robots_rep:
            return filter_robots_rep(pending, self.robots)
        return filter_robots(pending, self.robots)

    def _effective_politeness(self) -> DataFrame:
        """The politeness dim for THIS round: the static table with
        AIMD-learned per-host budgets (host_state rows, pinned at the
        last committed merge) overriding it when adaptive_budget is on.
        A JOIN, not a driver-side rebuild — at 10^7-10^8 hosts both
        sides are tables and the plan is one broadcast/shuffle join;
        nothing is collected to the driver.

        With a page quota configured, the budget is further capped at
        the host's remaining quota (max_pages − pages fetched so far,
        floored at 0 — an exhausted host selects nothing)."""
        pol = self.politeness
        if self.adaptive_budget:
            learned = (
                self.host_state.read(self.spark)
                .filter(F.col("budget").isNotNull())
                .select("host", F.col("budget").alias("_learned"))
            )
            # full outer: learned budgets override static ones, and
            # hosts first seen through AIMD (absent from the static
            # dim) join in
            pol = pol.join(learned, ["host"], "full").select(
                "host",
                F.coalesce("_learned", "budget").cast("int").alias("budget"),
            )
        if self._max_pages_dim is not None:
            meter = self.host_state.read(self.spark).select("host", "pages")
            pol = (
                pol.join(F.broadcast(self._max_pages_dim), ["host"], "left")
                .join(meter, ["host"], "left")
                .select(
                    "host",
                    F.when(
                        F.col("max_pages").isNotNull(),
                        F.least(
                            F.col("budget"),
                            F.greatest(
                                F.lit(0),
                                F.col("max_pages")
                                - F.coalesce(F.col("pages"), F.lit(0)),
                            ),
                        ),
                    )
                    .otherwise(F.col("budget"))
                    .cast("int")
                    .alias("budget"),
                )
            )
        return pol

    def _version_of(self, round_col):
        """Content version of `url` as served at round ``round_col`` —
        the drift model of SynthConfig.change_period as a pure SQL
        expression (volatile third re-keys every p(url) rounds). A
        static corpus (change_period=None) is version 0 forever."""
        if not self.cfg.change_period:
            return F.lit(0)
        vol = F.pmod(h60(F.concat(F.col("url"), F.lit("|vol"))), F.lit(3)) == 0
        p = 1 + F.pmod(
            h60(F.concat(F.col("url"), F.lit("|per"))),
            F.lit(self.cfg.change_period),
        )
        return F.when(vol, F.floor(round_col / p)).otherwise(F.lit(0)).cast("int")

    def _select_with_status(self, allowed: DataFrame, round_id: int) -> DataFrame:
        """Politeness selection + status, with the conditional-fetch 304
        overlay: a refetch whose content version equals the version at
        its last 200 (the ETag analogue, carried by the frontier row's
        etag_round — no seen-table join) returns 304: header-only, no
        body. First fetches (etag_round = -1) and failures are
        untouched; 301 takes precedence (a redirect is not
        revalidatable content)."""
        sel = with_status(
            select_budget(
                allowed,
                self._effective_politeness(),
                aging=(self.priority_aging, round_id)
                if self.priority_aging
                else None,
            ),
            self.cfg.fault_free,
            self.cfg.redirect_permille,
            self.cfg.gone_permille,
            (self.cfg.throttle_permille, round_id),
        )
        if not self.conditional_fetch:
            return sel
        cond = (F.col("status") == 200) & (F.col("etag_round") >= 0)
        if self.cfg.change_period:
            cond = cond & (
                self._version_of(F.lit(round_id))
                == self._version_of(F.col("etag_round"))
            )
        # static corpus (no change_period): every revalidation is a 304
        return sel.withColumn(
            "status",
            F.when(cond, F.lit(NOT_MODIFIED_STATUS))
            .otherwise(F.col("status"))
            .cast("int"),
        )

    # ------------------------------------------------------------ seeds
    def _bucket(self, col: str = "url"):
        """Bucket id of a URL — pure function, pmod(url_hash, B)."""
        return F.pmod(h60(F.col(col)), F.lit(self.frontier_buckets)).cast("int")

    @property
    def _tracks_host_state(self) -> bool:
        """Whether any configured feature maintains the host_state
        table (min_delay cool-down, AIMD budgets, page quotas, sitemap
        first-contact discovery). Engines using none of them never run
        the per-round merge — the bench hot path stays untouched."""
        return bool(
            self._min_delay
            or self.adaptive_budget
            or self._max_pages_dim is not None
            or self.sitemaps is not None
        )

    def _merge_host_state(
        self, round_id: int, selected: DataFrame, counters: dict
    ) -> None:
        """MERGE this round's per-host scheduler observations into the
        host_state table (pre-commit, so the round manifest's snapshot
        id carries them — resume-exact like every other table).

        * last_round := round_id for every host updated (any status —
          a 504 consumed the host's attention too);
        * budget := AIMD update when adaptive_budget is on: any
          504/429 from the host halves it (floor min_b), an all-success
          round ramps +1 (cap max_b); base = the static politeness dim
          (default 16 for hosts outside it). Off: the existing learned
          value carries through the merge unchanged.

        The update set is all hosts selected this round under
        adaptive_budget, else just the hosts some feature tracks (delay
        dim ∪ quota dim ∪ sitemap hosts) — either way O(round delta)
        rows into O(dirty buckets) leaf rewrites, and the min_delay
        future-round schedule is a distinct-due collect bounded by the
        max configured delay, not by host count."""
        hs_prev = self.host_state.read(self.spark)
        if self.adaptive_budget:
            src = selected
        else:
            tracked = [
                d.select("host")
                for d in (
                    self._min_delay_dim,
                    self._max_pages_dim,
                    self.sitemaps,
                )
                if d is not None
            ]
            dim = tracked[0]
            for t in tracked[1:]:
                dim = dim.unionByName(t)
            src = selected.join(
                F.broadcast(dim.distinct()), "host", "left_semi"
            )
        upd = (
            src.groupBy("host")
            .agg(
                # a 429 is the server explicitly asking to back off —
                # same AIMD signal as a 504
                F.max(
                    F.col("status").isin(504, THROTTLED_STATUS).cast("int")
                ).alias("_bad"),
                # status-200 bodies fetched — the page-quota meter
                F.sum((F.col("status") == 200).cast("int")).alias("_ok"),
            )
            .join(hs_prev, ["host"], "left")
            .join(
                F.broadcast(
                    self.politeness.withColumnRenamed("budget", "_base")
                ),
                ["host"],
                "left",
            )
        )
        if self.adaptive_budget:
            mn_b, mx_b = self.adaptive_budget
            cur = F.coalesce(F.col("budget"), F.col("_base"), F.lit(16))
            new_budget = (
                F.when(
                    F.col("_bad") == 1,
                    F.greatest(F.lit(mn_b), F.floor(cur / 2).cast("int")),
                )
                .otherwise(F.least(F.lit(mx_b), cur + F.lit(1)))
                .cast("int")
            )
        else:
            new_budget = F.col("budget")  # carry the learned value (or null)
        self.host_state.merge(
            upd.select(
                "host",
                new_budget.alias("budget"),
                F.lit(round_id).cast("int").alias("last_round"),
                (F.coalesce(F.col("pages"), F.lit(0)) + F.col("_ok"))
                .cast("int")
                .alias("pages"),
            ),
            ["host"],
            self._bucket("host"),
        )
        if self._min_delay:
            # cooled-off hosts come due at last+d: schedule those rounds
            # so run() cannot stop while their work is held back by the
            # cool-down alone. Distinct due values are bounded by the
            # max configured delay — an O(1) collect at any host count.
            nxt = {
                int(r["due"])
                for r in self.host_state.read(self.spark)
                .join(F.broadcast(self._min_delay_dim), "host")
                .filter(F.col("last_round") + F.col("delay") > round_id)
                .select(
                    (F.col("last_round") + F.col("delay")).alias("due")
                )
                .distinct()
                .collect()
            }
            counters["future_rounds"] = sorted(set(counters["future_rounds"]) | nxt)

    @staticmethod
    def _with_host_priority(df: DataFrame) -> DataFrame:
        from .hashing import unit

        return df.withColumn(
            "host", F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)
        ).withColumn("priority", unit(F.col("url"), "|prio"))

    @staticmethod
    def _reduce_per_url(df: DataFrame) -> DataFrame:
        """One row per URL: retries supersede (max retry_count), then
        min (not_before, depth, hops). Associative/commutative (max over
        a lexicographic lattice), so incremental merges are equivalent
        to reducing the full history — the same lattice golden._enqueue
        applies sequentially. host/priority are pure functions of url,
        hence identical across a group and safe to carry."""
        return (
            df.groupBy("url")
            .agg(
                F.max(
                    F.struct(
                        F.col("retry_count"),
                        (-F.col("not_before")).alias("nnb"),
                        (-F.col("depth")).alias("nd"),
                        (-F.col("hops")).alias("nh"),
                        F.col("host"),
                        F.col("priority"),
                        # etag_round rides along: only recrawl re-entries
                        # carry >= 0, and a seen URL can reach the
                        # frontier through no other path, so groups never
                        # mix different non-(-1) values
                        F.col("etag_round"),
                    )
                ).alias("s")
            )
            .select(
                # FRONTIER_SCHEMA column order
                "url",
                F.col("s.retry_count").alias("retry_count"),
                (-F.col("s.nnb")).cast("int").alias("not_before"),
                (-F.col("s.nd")).cast("int").alias("depth"),
                (-F.col("s.nh")).cast("int").alias("hops"),
                F.col("s.etag_round").cast("int").alias("etag_round"),
                F.col("s.host").alias("host"),
                F.col("s.priority").alias("priority"),
            )
        )

    def add_seeds(self, seeds_df: DataFrame) -> None:
        """Canonicalize + dedup seed URLs into the pending frontier.

        Maintains the pending-table invariant under REPEATED calls and
        re-seeding after rounds have run: the new batch is merged with
        the existing frontier through the associative per-URL reduce and
        anti-joined against the seen set, so overlapping or already-seen
        seeds never produce duplicate selection or re-fetches (r2 ADVICE
        #1 — the previous append-only path reduced only within its own
        batch)."""
        rows = self._with_host_priority(
            seeds_df.select(
                canonicalize("url").alias("url"),
                F.lit(0).cast("int").alias("retry_count"),
                F.lit(0).cast("int").alias("not_before"),
                F.coalesce(F.col("depth"), F.lit(0)).cast("int").alias("depth"),
                F.lit(0).cast("int").alias("hops"),
                F.lit(-1).cast("int").alias("etag_round"),
            )
        )
        # Merge against the COMMITTED state, not HEAD: after a mid-round
        # crash the frontier/seen HEADs hold that round's partial writes
        # (which resume() will discard) — merging on HEAD would bless a
        # partial frontier into the manifest and anti-join seeds against
        # seen rows that are about to be rolled back, both losing URLs.
        # In the no-crash case the committed snapshots ARE the HEADs.
        m = self.last_round()
        fr_sid = m["snapshots"]["frontier"] if m is not None else None
        seen_sid = m["snapshots"]["url_seen"] if m is not None else None
        merged = self._reduce_per_url(
            self.frontier.read(self.spark, fr_sid).unionByName(rows)
        ).join(self.seen.read(self.spark, seen_sid).select("url"), "url", "left_anti")
        # All-buckets replace rebuilds every leaf dir from ``merged``
        # alone, so it must not build on a partial-HEAD bucket layout:
        # roll the frontier back to the committed snapshot first (a
        # no-op when nothing crashed).
        if fr_sid is not None and fr_sid != self.frontier.current_snapshot_id():
            self.frontier.rollback(fr_sid)
        self.frontier.replace_buckets(
            merged, list(range(self.frontier_buckets)), self._bucket()
        )
        # Re-seeding after committed rounds: the bucket replace above is
        # itself an atomic, durable snapshot commit, so advance the last
        # round manifest's frontier pointer to it. Without this, the
        # next run()'s resume() would roll the frontier back to the
        # round-commit snapshot and silently discard the new seeds (they
        # would be indistinguishable from a crashed round's partial
        # writes); with it, a crash right after add_seeds resumes WITH
        # the seeds — the correct durability semantics.
        if m is not None:
            m["snapshots"]["frontier"] = self.frontier.current_snapshot_id()
            atomic_write_json(
                os.path.join(self.state_dir, f"round-{m['round_id']:06d}.json"), m
            )
        self._discard_presel()  # frontier changed under any presel
        self._warm_start()

    def _warm_start(self) -> None:
        """Seed-load-time warm-up — correctness-neutral, and outside any
        throughput window by design (a continuous crawl amortizes both
        costs to zero; doing them at seed load makes round 0 behave like
        every steady-state round):

        1. spawn + import the executor Python-worker pool (numpy + codec
           tables) so round 0's fetch stage measures fetching, not
           interpreter start;
        2. on a FRESH crawl, pin round 0's selection and fill its
           selected cache with one count — seed loading is round 0's
           "previous stage". Round 0 then runs the (cheap, cache-fed)
           selection fill itself, so add_seeds does no more work than
           that count. Same gate as in-round speculation: skipped
           when min_delay / adaptive budgets make selection depend on
           runtime state."""
        try:
            from .fetch import warm_workers

            warm_workers(self.spark)
        except Exception:
            pass  # a failed warm-up must never fail seed loading
        if (
            self.last_round() is not None
            or self._min_delay
            or self.adaptive_budget
        ):
            return
        sel = self._select(0)
        sel["selected"].count()
        self._presel = sel

    # ------------------------------------------------------------ round
    def _pending(self, round_id: int) -> DataFrame:
        """Ripe pending rows — a pure scan + filter thanks to the
        pending-table invariant (no seen rows, one row per URL,
        host/priority materialized)."""
        return self.frontier.read(self.spark).filter(
            F.col("not_before") <= round_id
        )

    def _select(self, round_id: int, cooling: DataFrame | None = None) -> dict:
        """A round's selection as unfilled caches: ripe pending rows
        (minus cooling hosts), robots-denied rows, and the budgeted
        selection with status. ``fill`` holds the background fill job
        of a speculative selection (None until one is submitted)."""
        pending = self._pending(round_id)
        if cooling is not None:
            pending = pending.join(F.broadcast(cooling), "host", "left_anti")
        pending = pending.cache()
        allowed, denied = self._filter_robots(pending)
        return {
            "round_id": round_id,
            "pending": pending,
            "denied": denied.cache(),
            "selected": self._select_with_status(allowed, round_id).cache(),
            "fill": None,
        }

    def _arrivals(self, selected: DataFrame) -> DataFrame:
        """Canonicalized outlink and redirect targets of a selection
        (url, depth, hops), before any seen filter."""
        arrivals = expand_outlinks(
            selected.filter(F.col("status") == 200).select("url", "host", "depth"),
            self.cfg.n_hosts,
            self.cfg.target_space,
            self.cfg.max_depth,
        ).select(
            canonicalize("dst_url").alias("url"), "depth", F.lit(0).alias("hops")
        )
        if self.cfg.redirect_permille > 0:
            # redirect Locations join the arrival stream: depth carries
            # over (a 3xx consumes no link depth), hops+1 under the
            # chain cap. Loops need no special casing — a target that
            # was already resolved is dropped by the seen anti-join.
            targets = selected.filter(
                (F.col("status") == REDIRECT_STATUS)
                & (F.col("hops") < self.cfg.max_redirect_hops)
            ).select(
                canonicalize(
                    redirect_target(self.cfg.n_hosts, self.cfg.target_space)
                ).alias("url"),
                "depth",
                (F.col("hops") + 1).alias("hops"),
            )
            arrivals = arrivals.unionByName(targets)
        return arrivals

    def _fill_query(self, sel: dict) -> DataFrame:
        """The one action that fills a selection's caches (plan only;
        run it with _fill). Besides filling them it yields what the
        round needs before fan-out: the pending and denied counts, the
        status-200 count (which sizes the fetch) and ``dirty``, a
        superset of the frontier buckets the round changes:
        B(selected) ∪ B(denied) ∪ B(arrivals), taken before the seen
        filter. Retries and 429 re-entries are selected rows, so only
        sitemap and recrawl arrivals fall outside it. Rewriting a
        bucket whose content does not change is harmless."""
        b = self._bucket().alias("b")
        zero, one = F.lit(0), F.lit(1)

        def part(df, bucket, p, d, ok):
            return df.select(bucket, p.alias("p"), d.alias("d"), ok.alias("ok"))

        ok = (F.col("status") == 200).cast("int")
        return (
            part(sel["pending"], F.lit(None).cast("int").alias("b"), one, zero, zero)
            .unionByName(part(sel["denied"], b, zero, one, zero))
            .unionByName(part(sel["selected"], b, zero, zero, ok))
            .unionByName(part(self._arrivals(sel["selected"]), b, zero, zero, zero))
            .agg(
                F.collect_set("b").alias("dirty"),
                F.sum("p").alias("pending"),
                F.sum("d").alias("denied"),
                F.sum("ok").alias("ok"),
            )
        )

    @staticmethod
    def _fill(query: DataFrame) -> dict:
        r = query.collect()[0]
        return {
            "dirty": sorted(int(x) for x in r["dirty"]),
            "pending": int(r["pending"] or 0),
            "denied": int(r["denied"] or 0),
            "ok": int(r["ok"] or 0),
        }

    def _speculate(self, round_id: int) -> None:
        """Pin round ``round_id``'s selection and run its fill on a
        background thread. The plan is built here, so the job starts at
        once. The calling round does not wait for it: the next
        run_round joins the fill where it needs the counts, so the job
        overlaps that round's planning. _discard_presel joins it before
        dropping the caches."""
        sel = self._select(round_id)
        query = self._fill_query(sel)
        pool = ThreadPoolExecutor(max_workers=1)
        sel["fill"] = pool.submit(self._fill, query)
        pool.shutdown(wait=False)
        self._presel = sel

    @property
    def cuckoo_on(self) -> bool:
        """Whether the cuckoo pre-filter participates in THIS round.
        True/False force it; "auto" engages it once the seen table
        reaches cuckoo_auto_min rows. The flip is correctness-neutral:
        the filter invariant (contains exactly seen[round <= upto],
        everything newer covered by the exact recent-slice join) holds
        for any flip point, including a mid-crawl or post-resume one."""
        if self.use_cuckoo == "auto":
            return self._seen_rows >= self.cuckoo_auto_min
        return bool(self.use_cuckoo)

    def _unseen_outlinks(self, outl: DataFrame, seen_df: DataFrame) -> DataFrame:
        """Drop outlinks whose URL is already in the seen set: cuckoo
        pre-filter splits definitely-new (checked only against the
        small post-filter slice) from maybe-seen (exact anti-join)."""
        seen_urls = seen_df.select("url")
        if self.cuckoo_on:
            recent = seen_df.filter(
                F.col("round_id") > self._cuckoo_upto
            ).select("url")
            new, maybe = self.cuckoo.split_candidates(outl, "url")
            if os.environ.get("CRAWLSPARK_CUCKOO_STATS") == "1":
                # profiling only (two extra count jobs per round):
                # definitely-new rows skip the full-seen anti-join and
                # are checked only against the small recent slice —
                # the pre-filter's work saving, quantified for NOTES.md
                print(
                    f"[cuckoo] definitely_new={new.count()} "
                    f"maybe_seen={maybe.count()}",
                    flush=True,
                )
            return new.join(recent, "url", "left_anti").unionByName(
                maybe.join(seen_urls, "url", "left_anti")
            )
        return outl.join(seen_urls, "url", "left_anti")

    def run_round(self, round_id: int) -> dict:
        """Execute one crawl round; returns counters (including the
        future-work schedule used by run()'s round skipping). Commits
        atomically via the round manifest."""
        # resolve table snapshots NOW (reads are manifest-pinned, so the
        # concurrent appends below cannot shift what this round sees)
        seen_df = self.seen.read(self.spark)

        # min_delay cool-down: hosts selected within the last d rounds
        # are ineligible THIS round — their pending rows are untouched
        # (no robots marking, no budget), exactly the golden semantics.
        # Cooling hosts = host_state ⋈ the static delay dim (both
        # broadcast-bounded: the delay dim by config, the join output by
        # it) filtered on last_round + delay > round_id.
        cooling = None
        if self._min_delay:
            cooling = (
                self.host_state.read(self.spark)
                .join(F.broadcast(self._min_delay_dim), "host")
                .filter(F.col("last_round") + F.col("delay") > round_id)
                .select("host")
            )

        # reuse the speculative selection pinned at the end of the
        # PREVIOUS round if it targeted this round (it pinned the
        # frontier snapshot right after that round's frontier commit —
        # exactly what this round would read); else build it now.
        # (Speculation is disabled under min_delay — see its gate: the
        # cooling set depends on this round's selections.)
        ps, self._presel = self._presel, None
        if ps is not None and ps["round_id"] == round_id:
            sel = ps
        else:
            self._release_selection(ps)  # stale speculation
            sel = self._select(round_id, cooling)
        denied, selected = sel["denied"], sel["selected"]

        # round stats ride the fetch-log append as observed metrics —
        # no separate aggregation job per round (r2 VERDICT #6)
        from pyspark.sql import Observation

        is504 = F.col("status") == 504
        rc = F.col("retry_count")
        obs = Observation()
        log_df = selected.observe(
            obs,
            F.count(F.lit(1)).alias("selected"),
            F.sum((F.col("status") == 200).cast("int")).alias("fetched"),
            F.sum(is504.cast("int")).alias("failed_504"),
            F.sum(
                (
                    (F.col("status") == 200) & (F.col("depth") < self.cfg.max_depth)
                ).cast("int")
            ).alias("expandable"),
            F.sum((F.col("status") == REDIRECT_STATUS).cast("int")).alias(
                "redirected"
            ),
            # conditional-fetch 304s: revalidated without a body — they
            # keep the recrawl schedule alive like a fetch does
            F.sum((F.col("status") == NOT_MODIFIED_STATUS).cast("int")).alias(
                "revalidated"
            ),
            F.sum((F.col("status") == GONE_STATUS).cast("int")).alias("gone_404"),
            # 429s come back eligible at round + Retry-After (1..3):
            # per-k sums drive the future-round schedule exactly
            *[
                F.sum(
                    (
                        (F.col("status") == THROTTLED_STATUS)
                        & (retry_after_col() == k)
                    ).cast("int")
                ).alias(f"thr_ra{k}")
                for k in (1, 2, 3)
            ],
            # 301s whose Location actually enqueues (under the hop cap):
            # these create next-round work even when nothing expanded
            F.sum(
                (
                    (F.col("status") == REDIRECT_STATUS)
                    & (F.col("hops") < self.cfg.max_redirect_hops)
                ).cast("int")
            ).alias("redir_enq"),
            *[
                F.sum(
                    (is504 & (rc == k) & (rc + 1 <= self.cfg.max_retries)).cast("int")
                ).alias(f"retry_rc{k}")
                for k in range(self.cfg.max_retries)
            ],
        ).select(
            F.lit(round_id).cast("int").alias("round_id"),
            "host",
            F.col("rank").cast("int"),
            "url",
            "status",
            "retry_count",
        )
        ok = selected.filter(F.col("status") == 200)

        # 301s are RESOLVED this round: seen (never refetched), no body;
        # their Location re-enters the frontier below with hops+1
        redirs = selected.filter(F.col("status") == REDIRECT_STATUS)
        # 304s: revalidated, no body — the seen row refreshes as a 200
        # (content is still live; round_id advances the recrawl clock)
        revd = selected.filter(F.col("status") == NOT_MODIFIED_STATUS)
        newly_seen = (
            ok.select("url", F.lit(200).alias("status"))
            .unionByName(revd.select("url", F.lit(200).alias("status")))
            .unionByName(
                selected.filter(
                    (F.col("status") == 504)
                    & (F.col("retry_count") + 1 > self.cfg.max_retries)
                ).select("url", F.lit(PERM_FAIL_STATUS).alias("status"))
            )
            .unionByName(
                redirs.select("url", F.lit(REDIRECT_STATUS).alias("status"))
            )
            # permanent 404s: resolved this round, never retried
            .unionByName(
                selected.filter(F.col("status") == GONE_STATUS).select(
                    "url", F.lit(GONE_STATUS).alias("status")
                )
            )
            .unionByName(
                denied.select("url", F.lit(ROBOTS_DENIED_STATUS).alias("status"))
            )
            .select(
                "url",
                h60(F.col("url")).alias("url_hash"),
                F.col("status").cast("int"),
                F.lit(round_id).cast("int").alias("round_id"),
            )
        )

        retries = selected.filter(
            (F.col("status") == 504)
            & (F.col("retry_count") + 1 <= self.cfg.max_retries)
        ).select(
            "url",
            (F.col("retry_count") + 1).cast("int").alias("retry_count"),
            # linear backoff in rounds (T2: retry# × httpTimeout)
            (
                F.lit(round_id + 1)
                + F.lit(self.cfg.retry_backoff_step) * F.col("retry_count")
            ).cast("int").alias("not_before"),
            "depth",
            "hops",
            "etag_round",
            "host",
            "priority",
        )
        if self.cfg.throttle_permille > 0:
            # 429: honor Retry-After — the row re-enters the frontier
            # UNCHANGED (retry_count not consumed: the request never
            # reached the handler), eligible again at round + ra
            throttled_rows = selected.filter(
                F.col("status") == THROTTLED_STATUS
            ).select(
                "url",
                F.col("retry_count").cast("int"),
                (F.lit(round_id) + retry_after_col()).cast("int").alias(
                    "not_before"
                ),
                "depth",
                "hops",
                "etag_round",
                "host",
                "priority",
            )
            retries = retries.unionByName(throttled_rows)
        # cached: the seen-split consumes this subtree through several
        # semi/anti branches — without the cache the explode+groupBy
        # re-executes once per branch inside the frontier-update job
        outlinks = (
            self._arrivals(selected)
            .groupBy("url")
            .agg(F.min(F.struct(F.col("depth"), F.col("hops"))).alias("_s"))
            .select(
                "url",
                F.col("_s.depth").alias("depth"),
                F.col("_s.hops").alias("hops"),
            )
            .cache()
        )
        new_rows = self._with_host_priority(
            self._unseen_outlinks(outlinks, seen_df)
            # exclude URLs that become seen THIS round (outlink to a
            # page fetched/denied in the same round)
            .join(newly_seen.select("url"), "url", "left_anti")
            .select(
                "url",
                F.lit(0).cast("int").alias("retry_count"),
                F.lit(round_id + 1).cast("int").alias("not_before"),
                F.col("depth").cast("int"),
                F.col("hops").cast("int"),
                F.lit(-1).cast("int").alias("etag_round"),
            )
        )
        # pending-table update — DIRTY-BUCKET partial overwrite: rows
        # leaving (selected → seen or retry; denied → seen) are
        # anti-joined out of THEIR buckets only; retries and brand-new
        # outlinks merge in via the associative per-URL reduce. Buckets
        # receiving no departures/arrivals carry their leaf dirs forward
        # untouched, so the per-round frontier write is O(round delta),
        # not O(|pending|). The dirty set comes from the selection fill
        # (a superset taken before the seen filter), so the rewrite
        # starts at fan-out with no discovery job of its own.
        touched = selected.select("url").unionByName(denied.select("url"))
        incoming = retries.unionByName(new_rows)
        n_sitemap_seeds = 0
        sm_rows = None
        if self.sitemaps is not None:
            # SITEMAP DISCOVERY: hosts selected for the FIRST time this
            # round (no host_state row — the merge below records every
            # sitemap host ever selected) contribute their sitemap's
            # <loc> entries as next-round frontier arrivals. Same
            # idempotency path as outlinks: seen anti-join (pre-round
            # snapshot + this round's resolutions) then the per-URL
            # reduce. All dims here are broadcast-bounded (sitemaps are
            # one row per advertising host).
            from .ops.sitemap import seeds_from_sitemap

            first_contact = (
                selected.select("host")
                .distinct()
                .join(
                    F.broadcast(self.sitemaps.select("host")),
                    "host",
                    "left_semi",
                )
                .join(
                    self.host_state.read(self.spark).select("host"),
                    "host",
                    "left_anti",
                )
            )
            discovered = seeds_from_sitemap(
                self.sitemaps.join(F.broadcast(first_contact), "host", "left_semi")
            )
            sm_rows = self._with_host_priority(
                discovered.select("url")
                .join(seen_df.select("url"), "url", "left_anti")
                .join(newly_seen.select("url"), "url", "left_anti")
                .select(
                    "url",
                    F.lit(0).cast("int").alias("retry_count"),
                    F.lit(round_id + 1).cast("int").alias("not_before"),
                    F.lit(0).cast("int").alias("depth"),
                    F.lit(0).cast("int").alias("hops"),
                    F.lit(-1).cast("int").alias("etag_round"),
                )
            ).cache()
            # tiny count (feature-gated, dims broadcast-bounded): the
            # discovered arrivals must schedule round+1
            n_sitemap_seeds = sm_rows.count()
            incoming = incoming.unionByName(sm_rows)
        due = None
        if self._merge_seen:
            # recrawl TTL: 200-seen URLs past their TTL re-enter the
            # frontier (touched rows excluded — they were refreshed
            # THIS round and seen_df predates the merge). Re-enqueueing
            # an already-pending URL is idempotent under the reduce.
            # Fixed mode: one global TTL; adaptive mode: each row
            # carries its own learned ttl column.
            if self.recrawl_after is not None:
                past_ttl = F.col("round_id") <= round_id - self.recrawl_after
            else:
                past_ttl = F.col("round_id") + F.col("ttl") <= round_id
            # the MERGE-maintained seen table holds one row per url, so
            # (url, round_id) needs no distinct; round_id doubles as the
            # ETag analogue for conditional refetches
            due = (
                seen_df.filter((F.col("status") == 200) & past_ttl)
                .select("url", F.col("round_id").alias("etag_round"))
                .join(touched, "url", "left_anti")
                .cache()
            )
            recrawl_rows = self._with_host_priority(
                due.select(
                    "url",
                    F.lit(0).cast("int").alias("retry_count"),
                    F.lit(round_id + 1).cast("int").alias("not_before"),
                    F.lit(0).cast("int").alias("depth"),
                    F.lit(0).cast("int").alias("hops"),
                    F.col("etag_round").cast("int"),
                )
            )
            incoming = incoming.unionByName(recrawl_rows)
        bexpr = self._bucket()

        # join the selection fill: a speculative one was submitted at
        # the end of the previous round and has overlapped the planning
        # above; otherwise it runs now and materializes the shared
        # caches before fan-out, so the concurrent jobs don't race to
        # fill them (the log append reads the cache with coalesce(2)
        # and must never be the cache-filling job)
        fill = (
            sel["fill"].result()
            if sel["fill"] is not None
            else self._fill(self._fill_query(sel))
        )

        def _frontier_update() -> tuple[int, int]:
            """Runs as one of the round's concurrent jobs: rewrite the
            dirty buckets. Returns (n_dirty, rows_written)."""
            from pyspark.sql import Observation

            dirty = set(fill["dirty"])
            extra = [df.select("url") for df in (sm_rows, due) if df is not None]
            if extra:
                # sitemap and recrawl arrivals depend on host_state /
                # seen, not on the selection, so they keep a collect
                dirty.update(
                    int(r["b"])
                    for r in functools.reduce(DataFrame.unionByName, extra)
                    .select(bexpr.alias("b"))
                    .distinct()
                    .collect()
                )
            dirty = sorted(dirty)
            if not dirty:
                return 0, 0
            survivors_dirty = self.frontier.read_buckets(self.spark, dirty).join(
                touched, "url", "left_anti"
            )
            pending_next = self._reduce_per_url(
                survivors_dirty.unionByName(incoming)
            )
            obs = Observation()
            pending_next = pending_next.observe(
                obs, F.count(F.lit(1)).alias("rows")
            )
            self.frontier.replace_buckets(pending_next, dirty, bexpr)
            return len(dirty), int(obs.get["rows"])

        # lineage rides the write action via an accumulator — no extra job
        acc = self.spark.sparkContext.accumulator({}, _DictAccum())
        # EXPLICIT SKEW SPLIT before the fetch stage: the politeness
        # window leaves rows partitioned by host, so the hot (Zipf-head)
        # host's entire batch would execute as ONE fetch task. Rebalance
        # round-robin into ONE wave sized to the rows: min(slots,
        # status-200 rows) partitions. Every Python task carries a fixed
        # cost even on a reused worker (~0.15-0.3 s on a 4-core x86-64
        # VM, most of it the worker's per-task import-cache reset
        # re-reading pyspark.zip), so extra waves only add that cost:
        # measured there after warm_workers, 600 rows fetched in 1.75 s
        # as 8 partitions against 0.89 s as 4, and 13 rows in 1.0 s
        # against 0.5 s. The output is partitioning-invariant
        # (tests/test_parallelism.py).
        par = max(self.spark.sparkContext.defaultParallelism, 1)
        fetch_in = ok.select("url")
        if self.cfg.change_period:
            # content drift (SynthConfig.change_period): a deterministic
            # third of URLs serve new content every p(url) rounds —
            # version is a pure function of (url, round_id), so resume
            # and parallelism replay bit-identically
            fetch_in = ok.select(
                "url", self._version_of(F.lit(round_id)).alias("version")
            )
        fetched = fetch_images(
            fetch_in.repartition(max(1, min(par, fill["ok"]))), lineage_acc=acc
        )
        images_df = fetched.select(
            "image_id",
            "url",
            "bytes",
            "w",
            "h",
            "fmt",
            "caption",
            "phash",
            F.lit(round_id).cast("int").alias("round_id"),
        )

        # ---- execute the round's independent actions CONCURRENTLY.
        # All jobs share the cached pending/denied/selected inputs; only
        # the images job runs the fetch stage. Commit point (the round
        # manifest) comes after every job has finished, so atomicity and
        # resume semantics are unchanged — this only overlaps stage
        # latency, which otherwise serializes the round's small stages.
        with ThreadPoolExecutor(max_workers=8) as ex:
            # no coalesce on images: it would collapse the upstream
            # mapInPandas fetch. Per-round file count is bounded by the
            # fetch partitioning (one wave); rewriting image BYTES for
            # file hygiene has no place on the hot path — at real scale
            # that is Iceberg's async rewrite_data_files
            f_img = ex.submit(self.images.append, images_df)
            f_log = ex.submit(self.fetch_log.append, log_df, None, 2)
            adaptive_due: list[int] = []
            if not self._merge_seen:
                f_seen = ex.submit(self.seen.append, newly_seen, None, 2)
            elif self.recrawl_after is not None:
                # bucketed MERGE: rewrites only the buckets holding this
                # round's refreshed URLs (O(delta), not O(seen table))
                f_seen = ex.submit(
                    self.seen.merge, newly_seen, ["url"], self._bucket()
                )
            else:
                # ADAPTIVE recrawl: the merge rows carry (phash, ttl).
                # The fetched phash comes from the images table's round
                # slice read back AFTER the images append lands (no
                # second fetch pass, no caching of image bytes); the
                # merge therefore waits on f_img — the one concurrency
                # trade of this mode. ttl update: changed/new → min_ttl,
                # unchanged → 2x capped at max_ttl.
                min_ttl, max_ttl = self.recrawl_adaptive
                prev = seen_df.select(
                    "url",
                    F.col("phash").alias("_pp"),
                    F.col("ttl").alias("_pt"),
                )

                def _seen_adaptive():
                    f_img.result()
                    meta = (
                        self.images.read(self.spark)
                        .filter(F.col("round_id") == round_id)
                        .select("url", "phash")
                    )
                    is200 = F.col("status") == 200
                    # conditional-fetch 304 rows carry no fetched body:
                    # they ARE the "unchanged" observation (ttl doubles,
                    # stored phash carries forward) — checked FIRST,
                    # before the null-phash-means-changed rule
                    rvm = revd.select("url", F.lit(1).alias("_rv"))
                    rows = (
                        newly_seen.join(meta, "url", "left")
                        .join(prev, "url", "left")
                        .join(rvm, "url", "left")
                        .withColumn(
                            "ttl",
                            F.when(~is200, F.lit(None))
                            .when(
                                F.col("_rv") == 1,
                                F.least(F.col("_pt") * 2, F.lit(max_ttl)),
                            )
                            .when(
                                F.col("_pp").isNull()
                                | (F.col("_pp") != F.col("phash")),
                                F.lit(min_ttl),
                            )
                            .otherwise(
                                F.least(F.col("_pt") * 2, F.lit(max_ttl))
                            )
                            .cast("int"),
                        )
                        .withColumn(
                            "phash",
                            F.when(F.col("_rv") == 1, F.col("_pp"))
                            .when(is200, F.col("phash"))
                            .cast("long"),
                        )
                        .select(
                            "url", "url_hash", "status", "round_id", "phash", "ttl"
                        )
                        .cache()
                    )
                    n = self.seen.merge(rows, ["url"], self._bucket())
                    # exact future due rounds of THIS round's refreshed
                    # rows: at most log2(max_ttl)+1 distinct ttl values,
                    # so the collect is O(1). run() unions them into its
                    # outstanding schedule — no polling rounds needed.
                    adaptive_due.extend(
                        int(r["d"])
                        for r in rows.filter(is200)
                        .select((F.col("round_id") + F.col("ttl")).alias("d"))
                        .distinct()
                        .collect()
                    )
                    rows.unpersist()
                    return n

                f_seen = ex.submit(_seen_adaptive)
            f_due = ex.submit(due.count) if due is not None else None
            f_front = ex.submit(_frontier_update)
            # cheap jobs first: their results decide the next round, so
            # the speculative next-round selection can start while the
            # fetch stage (usually the longest job) is still running
            f_log.result()
            stats = obs.get  # observed metrics from the log append
            f_seen.result()
            n_dirty, n_front_rows = f_front.result()
            n_due = f_due.result() if f_due is not None else 0
            counters = self._make_counters(
                round_id,
                stats,
                fill["pending"],
                fill["denied"],
                n_due,
                n_dirty,
                n_front_rows,
                extra_future=adaptive_due,
            )
            if n_sitemap_seeds > 0:
                # sitemap-discovered arrivals are next-round work
                counters["future_rounds"] = sorted(
                    set(counters["future_rounds"]) | {round_id + 1}
                )
            if self._tracks_host_state:
                # per-host scheduler state (last-selected round, AIMD
                # budgets, page-quota meter, sitemap first-contact)
                # MERGEs into the host_state table BEFORE the round
                # commit, so the manifest's snapshot id carries the
                # updated state. Write volume is O(hosts selected this
                # round); nothing is collected.
                self._merge_host_state(round_id, selected, counters)
            # seen-table growth this round (200s + permanent fails +
            # robots-denied; retries stay in the frontier). Upper bound
            # under recrawl MERGE (rewrites counted as appends) — fine
            # for the auto-cuckoo threshold, which needs scale, not
            # exactness. Updated BEFORE this round's filter maintenance
            # so a threshold crossing folds the filter immediately.
            retries_sched = sum(
                int(stats[f"retry_rc{k}"] or 0) for k in range(self.cfg.max_retries)
            )
            self._seen_rows += (
                counters["fetched"]
                + (counters["failed_504"] - retries_sched)
                + counters["denied"]
                + counters["redirected"]
                + counters["gone_404"]
            )
            if (
                round_id + 1 in counters["future_rounds"]
                and not self._min_delay
                and not self.adaptive_budget
            ):
                # SPECULATIVE NEXT-ROUND SELECTION: the frontier commit
                # for round_id+1 just landed (f_front), and selection
                # depends on nothing else — pin it and fill its caches
                # in the background, under the remainder of this round's
                # fetch stage and the next round's planning. Pure
                # overlap: no disk effect, discarded if stale. The
                # conditional-fetch 304 overlay is row-local (the
                # frontier row carries its own etag_round), so the
                # speculative selection needs no seen-table read.
                self._speculate(round_id + 1)
            f_img.result()

        lineage = sorted(
            ({"part_id": int(k), "rows": int(v)} for k, v in acc.value.items()),
            key=lambda d: d["part_id"],
        )

        # batched cuckoo maintenance: fold the recent seen slice into the
        # filter every cuckoo_every rounds (round_id pushdown on the scan)
        if self.cuckoo_on and round_id - self._cuckoo_upto >= self.cuckoo_every:
            recent = self.seen.read(self.spark).filter(
                F.col("round_id") > self._cuckoo_upto
            )
            self.cuckoo.insert(recent.select("url"))
            self._cuckoo_upto = round_id

        # compaction BEFORE the round commit so the round manifest (the
        # resume/rollback target) references the post-compact snapshot —
        # with snapshot GC on, a post-commit compact would otherwise
        # leave resume pointing at expired dirs. Only the append-only
        # seen log (non-recrawl mode) needs it: the frontier's bucket
        # leaves self-compact on each dirty rewrite, and the recrawl-mode
        # seen table compacts per-bucket through its bucketed MERGE.
        if not self._merge_seen and round_id % 10 == 9:
            self.seen.maybe_compact(self.spark)
        self._commit_round(round_id, counters, lineage)
        if self.snapshot_gc:
            # everything a resume() can target is this round's manifest;
            # expire() always keeps each table's HEAD (== the snapshot
            # ids just committed), so older snapshots and any orphaned
            # partial-round dirs are reclaimed here. The images table
            # additionally keeps the derived products' base snapshots
            # (image_dedup / image_emb meta) so later publishes can
            # still diff incrementally instead of reprocessing the
            # whole table.
            for t in (self.frontier, self.seen, self.fetch_log, self.host_state):
                t.expire()
            keeps = []
            for tbl in (self.image_dedup, self.image_emb):
                mm = tbl.current_manifest()
                b = (mm.get("meta") or {}).get("images_snapshot") if mm else None
                if b is not None:
                    keeps.append(int(b))
            self.images.expire(keep_snapshots=keeps or None)
            self.cuckoo.table.expire()
        self._release_selection(sel)
        for df in (
            (outlinks,)
            + ((due,) if due is not None else ())
            + ((sm_rows,) if sm_rows is not None else ())
        ):
            df.unpersist()
        # release the cuckoo split's cached candidate DF (consumed by
        # the frontier-update job above) — r2 ADVICE #3 leak fix
        self.cuckoo.release_caches()
        return counters

    def _make_counters(
        self,
        round_id: int,
        stats,
        n_pending: int,
        n_denied: int,
        n_due: int,
        n_dirty: int,
        n_front_rows: int,
        extra_future: list[int] | None = None,
    ) -> dict:
        """Round counters + the future-work schedule run() uses to skip
        empty rounds. ``stats`` is the observed-metrics dict from the
        fetch-log append (count/sums may be None on an empty round)."""
        return {
            "round_id": round_id,
            "pending": int(n_pending),
            "denied": int(n_denied),
            # write-volume evidence for the dirty-bucket design: rows
            # rewritten this round and buckets touched (vs B total) —
            # at steady state tracks the round's delta, not |pending|
            "frontier_dirty_buckets": int(n_dirty),
            "frontier_rows_written": int(n_front_rows),
            "selected": int(stats["selected"] or 0),
            "fetched": int(stats["fetched"] or 0),
            "failed_504": int(stats["failed_504"] or 0),
            "expandable": int(stats["expandable"] or 0),
            "redirected": int(stats["redirected"] or 0),
            "revalidated": int(stats["revalidated"] or 0),
            "gone_404": int(stats["gone_404"] or 0),
            "throttled": sum(int(stats[f"thr_ra{k}"] or 0) for k in (1, 2, 3)),
            "future_rounds": sorted(
                {
                    round_id + 1 + self.cfg.retry_backoff_step * k
                    for k in range(self.cfg.max_retries)
                    if int(stats[f"retry_rc{k}"] or 0) > 0
                }
                # 429 rows come back exactly at round + Retry-After
                | {
                    round_id + k
                    for k in (1, 2, 3)
                    if int(stats[f"thr_ra{k}"] or 0) > 0
                }
                | ({round_id + 1} if int(stats["expandable"] or 0) > 0 else set())
                # redirect Locations enqueue for the next round (may be
                # already-seen — then the round is an empty skip, cheap)
                | ({round_id + 1} if int(stats["redir_enq"] or 0) > 0 else set())
                | (
                    # budget leftover: only reschedulable if this round
                    # actually selected something (a selectable row left
                    # behind implies a bound budget, not a dead row)
                    {round_id + 1}
                    if int(stats["selected"] or 0) > 0
                    and int(n_pending) - int(n_denied) - int(stats["selected"] or 0)
                    > 0
                    else set()
                )
                # recrawl scheduling: rows enqueued now fetch next
                # round; rows fetched now come due after the TTL
                | ({round_id + 1} if n_due > 0 else set())
                | (
                    # a 304 revalidation advances the recrawl clock the
                    # same as a fetch — without it an all-304 round
                    # would stop scheduling while URLs still come due
                    {round_id + self.recrawl_after}
                    if self.recrawl_after is not None
                    and int(stats["fetched"] or 0)
                    + int(stats["revalidated"] or 0)
                    > 0
                    else set()
                )
                # adaptive recrawl: the exact per-batch due rounds
                # (round_id + learned ttl) computed by the seen merge
                | set(extra_future or ())
            ),
        }

    def has_pending_work(self) -> bool:
        # pending-table invariant: every row is unseen work
        return self.frontier.read(self.spark).limit(1).count() > 0

    def _outstanding_rounds(self) -> list[int]:
        """Rounds at which pending frontier work exists — used once at
        resume to rebuild the scheduler state. A pure column scan,
        plus the earliest recrawl due-round when a TTL is configured."""
        rows = self.frontier.read(self.spark).select("not_before").distinct().collect()
        out = sorted(int(r["not_before"]) for r in rows)
        if self.recrawl_after is not None:
            m = (
                self.seen.read(self.spark)
                .filter(F.col("status") == 200)
                .agg(F.min("round_id"))
                .collect()[0][0]
            )
            if m is not None:
                out.append(int(m) + self.recrawl_after)
        elif self.recrawl_adaptive is not None:
            # exact per-row due rounds; distinct values are bounded by
            # n_rounds + max_ttl, and this runs once per resume
            out.extend(
                int(r["d"])
                for r in self.seen.read(self.spark)
                .filter(F.col("status") == 200)
                .select((F.col("round_id") + F.col("ttl")).alias("d"))
                .distinct()
                .collect()
            )
        return sorted(set(out))

    def run(self, max_rounds: int = 1000, stop_after: int | None = None) -> list[dict]:
        """Run rounds until the frontier is exhausted (or limits hit).

        Rounds with no scheduled work are skipped without any Spark job:
        run_round reports the future-work schedule (retries' not_before
        values + outlink availability + budget leftovers), which is
        exactly the information a driver needs — no exhaustive frontier
        scan per round. Skipped rounds produce no log rows in the golden
        simulator either, so outputs are identical.
        """
        if self.last_round() is not None:
            start = self.resume()
            outstanding = {nb for nb in self._outstanding_rounds()}
            outstanding = {max(nb, start) for nb in outstanding}
            # a kill between a round's commit and its due priority
            # rewrite must not lose the rewrite: resume() restored the
            # committed state, so applying it now equals the
            # uninterrupted run bit-for-bit
            if self._auto_reprioritize_due():
                self.reprioritize(self.link_ranks())
        else:
            start = 0
            outstanding = {0}
        results: list[dict] = []
        executed = 0
        while outstanding:
            r = min(outstanding)
            if r >= max_rounds:
                break
            if stop_after is not None and executed >= stop_after:
                break
            c = self.run_round(r)
            results.append(c)
            executed += 1
            if self._auto_reprioritize_due():
                self.reprioritize(self.link_ranks())
            outstanding = {nb for nb in outstanding if nb > r}
            outstanding.update(c["future_rounds"])
        # a speculative selection for a round we never ran would
        # otherwise leak its caches for the life of the session
        self._discard_presel()
        return results

    # ---------------------------------------------------- dedup publish
    # tau=7: a re-encoded copy (lossy quantization + ±2 pixel noise)
    # moves the 64-bit DCT pHash by up to ~6 bits (measured over 300
    # mirror twins — median-adjacent DCT coefficients flip under any
    # noise), while unrelated images sit ~32 bits apart; 7 is also the
    # classic pHash dup threshold. Banding stays EXACT (8 bands of 8
    # bits, pigeonhole) — see ops/dedup.hamming_near_dup's scale note.
    def publish_dedup(self, tau: int = 7, incremental: bool = True) -> dict:
        """Post-crawl image near-dup publish: flag re-hosted/re-encoded
        copies in the crawled images table (r3 VERDICT "Next round" #5 —
        the training-data dedup product maintained with the reference's
        A5 upsert semantics, ContentfulCrawler.java upsert-by-_id).

        The banded Hamming keeper map runs over the images table's
        STORED phash column — the fetch stage already computed the DCT
        pHash per image, so this is one scan of (image_id, phash) plus
        the (band,bucket)-keyed self-join from ops/dedup.py; NO image is
        re-decoded. The keeper map (ops/imageops.keeper_map: every id
        with a duplicate keeps min(self, min neighbor) — one shuffle, no
        iterative connected components) is MERGE-upserted by image_id
        into the image_dedup side table: (image_id, keeper_id, n_dups,
        is_dup). Images without a near-duplicate have NO row — the
        common case at crawl scale, so the table is O(duplicates), not
        O(images); consumers LEFT JOIN and coalesce(is_dup, false).

        Scale: the dedup product is append-monotone (images is
        append-only, so pairs never disappear), the MERGE rewrites only
        the buckets holding newly flagged ids, and re-publishing after
        more rounds is idempotent for unchanged ids.

        INCREMENTAL (default): the base images snapshot of the previous
        publish is recorded in the image_dedup manifest meta
        (``images_snapshot``); this publish reads only the rows appended
        since (SnapTable.read_incremental), bands the delta against the
        full signature table (delta × full, never full × full), and
        folds the new pairs into the stored keeper state exactly:
        keeper' = min(stored keeper, min new neighbor), n_dups' =
        stored + new-neighbor count — valid precisely because
        pairs(full) = pairs(old) ∪ pairs(new) with the two sets
        disjoint. Under recrawl mode the delta can contain re-appended
        EXISTING image_ids, which would re-emit already-folded pairs:
        the incremental path therefore (a) drops delta ids already
        present at the base snapshot (their pairs are already counted)
        and (b) verifies no recrawled id came back with a different
        phash — a content change invalidates pairs(old) itself, so that
        rare case falls back to the full recompute, which under recrawl
        takes the LATEST row per id (the reference's upsert-by-_id view)
        and REPLACES the dedup table rather than merging, since changed
        content can remove pairs. Cost is O(delta · n/2^w + affected
        buckets), not O(n²/2^w): the 10^10-image re-publish touches one
        round's images, not the table. Any history that breaks the
        identity (rollback, expired base snapshot, a rewrite of the
        images table) raises inside read_incremental and falls back to
        the full recompute.
        """
        from .ops.dedup import hamming_near_dup, hamming_near_dup_delta, split_phash64
        from .ops.imageops import keeper_map

        images_sid = self.images.current_snapshot_id()
        bucket_expr = self._bucket("image_id")
        cur_m = self.image_dedup.current_manifest()
        cur_meta = dict((cur_m.get("meta") or {})) if cur_m else {}
        base_sid = cur_meta.get("images_snapshot")
        mode, delta = "full", None
        if incremental and cur_meta.get("tau") != tau:
            # the fold identity only holds within ONE threshold: pairs
            # banded at a new tau cannot extend keeper/n_dups state
            # stored at another (old rows would keep the old-tau pair
            # set) — a tau change is a full recompute by definition
            incremental = False
        if incremental and base_sid is not None:
            try:
                delta = self.images.read_incremental(self.spark, int(base_sid))
                mode = "incremental"
            except ValueError:
                pass  # non-append history or expired base → full recompute

        if mode == "incremental" and self._merge_seen:
            # Recrawl mode re-appends existing image_ids (fetch.py uuid5
            # of url), so the delta is NOT all-new ids: banding those
            # rows would re-emit pairs the previous publish already
            # folded into n_dups, double-counting every recrawl cycle.
            # The fold identity pairs(full) = pairs(old) ∪ pairs(new)
            # needs (a) delta restricted to genuinely-new ids and
            # (b) phash immutable per id — if any recrawled row came
            # back with a DIFFERENT phash (content changed), the old
            # pair set itself is stale and only a full recompute is
            # correct. (b) is checked below; (a) is the anti-join in
            # the incremental branch.
            delta_ids = (
                split_phash64(delta.select("image_id", "phash"), "phash")
                .select("image_id")
                .distinct()
            )
            full_sig_probe = split_phash64(
                self.images.read(self.spark).select("image_id", "phash"), "phash"
            )
            changed = (
                full_sig_probe.join(delta_ids, "image_id", "left_semi")
                .groupBy("image_id")
                .agg(F.countDistinct("phash_lo", "phash_hi").alias("k"))
                .filter(F.col("k") > 1)
                .limit(1)
                .count()
            )
            if changed:
                mode = "full"

        if mode == "incremental":
            # no cache on the delta side: it feeds the join exactly once
            delta_sig = split_phash64(
                delta.select("image_id", "phash"), "phash"
            ).dropDuplicates(["image_id"])
            if self.recrawl_after is not None:
                base_ids = self.images.read(self.spark, int(base_sid)).select(
                    "image_id"
                )
                delta_sig = delta_sig.join(base_ids, "image_id", "left_anti")
            full_sig = split_phash64(
                self.images.read(self.spark).select("image_id", "phash"), "phash"
            )
            pairs = hamming_near_dup_delta(
                delta_sig, full_sig, "image_id", "phash_lo", "phash_hi", tau=tau
            )
            # per affected id: its NEW neighbors only — fold into the
            # stored keeper rows (read from the affected buckets alone)
            km_new = keeper_map(pairs, "image_id").cache()
            affected = sorted(
                int(r["b"])
                for r in km_new.select(bucket_expr.alias("b")).distinct().collect()
            )
            old = self.image_dedup.read_buckets(self.spark, affected).select(
                "image_id",
                F.col("keeper_id").alias("_old_keeper"),
                F.col("n_dups").alias("_old_n"),
            )
            km = km_new.join(old, "image_id", "left").select(
                "image_id",
                F.least(
                    F.col("keeper_id"),
                    F.coalesce(F.col("_old_keeper"), F.col("image_id")),
                ).alias("keeper_id"),
                (F.col("n_dups") + F.coalesce(F.col("_old_n"), F.lit(0))).alias(
                    "n_dups"
                ),
            )
            sig = delta_sig
        else:
            src = self.images.read(self.spark).select(
                "image_id", "phash", "round_id"
            )
            if self.recrawl_after is not None:
                # recrawl appends duplicate image_id rows; the corpus
                # member is the LATEST fetch of each id (the reference's
                # upsert-by-_id view of a re-crawled document) — one
                # hash-agg, max(struct) picks the row with max round_id
                src = (
                    src.groupBy("image_id")
                    .agg(F.max(F.struct("round_id", "phash")).alias("s"))
                    .select("image_id", F.col("s.phash").alias("phash"))
                )
            sig = split_phash64(src.select("image_id", "phash"), "phash").cache()
            pairs = hamming_near_dup(sig, "image_id", "phash_lo", "phash_hi", tau=tau)
            km = keeper_map(pairs, "image_id")
        km = km.withColumn(
            "is_dup", F.col("image_id") != F.col("keeper_id")
        ).select("image_id", "keeper_id", "n_dups", "is_dup")
        if mode == "incremental":
            self.image_dedup.merge(
                km,
                ["image_id"],
                bucket_expr,
                meta={"images_snapshot": images_sid, "tau": tau},
            )
        else:
            # the full recompute is authoritative: REPLACE the table — a
            # changed-content recrawl can REMOVE pairs, and a keyed merge
            # would leave the vanished ids behind as stale dup flags
            self.image_dedup.replace_buckets(
                km,
                list(range(self.image_dedup.n_buckets)),
                bucket_expr,
                meta={"images_snapshot": images_sid, "tau": tau},
            )
        # a publish with no new pairs commits nothing in merge(); still
        # advance the recorded base so the next publish diffs from here
        head = self.image_dedup.current_manifest()
        if head is not None and head.get("meta", {}).get("images_snapshot") != images_sid:
            self.image_dedup.commit_dirs(
                head["dirs"],
                self.image_dedup.schema(),
                {**head.get("meta", {}), "images_snapshot": images_sid, "tau": tau},
                op="publish-meta",
            )
        if mode == "incremental":
            km_new.unpersist()
        sig.unpersist()
        if self.snapshot_gc:
            self.image_dedup.expire()
        row = (
            self.image_dedup.read(self.spark)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("is_dup").cast("int")).alias("dups"),
            )
            .collect()[0]
        )
        return {
            "rows": int(row["rows"]),
            "dup_images": int(row["dups"] or 0),
            "mode": mode,
        }

    # ------------------------------------------------- ANN index publish
    def publish_ann_index(self, quantize: bool = False) -> dict:
        """Post-crawl ANN index over the crawled images: embed the
        stored image bytes into the shared dim-64 space (shuffle-free
        Arrow stage, ops/imageops.embed_images) and maintain the
        persisted bucket-per-cell IvfIndex over them — "find images
        visually similar to this one" as a standing queryable product.

        Incremental end to end, same contract as publish_dedup: the
        image_emb table records the images snapshot it covers, so a
        re-publish embeds ONLY the images fetched since (no decode work
        repeats), and IvfIndex.update assigns only those new vectors
        into their cells' buckets. Any non-append images history falls
        back to full re-embed + index rebuild, which is always correct.
        """
        from .ops.imageops import embed_images

        images_sid = self.images.current_snapshot_id()
        m = self.image_emb.current_manifest()
        base = (m.get("meta") or {}).get("images_snapshot") if m else None
        mode, delta = "full", None
        if base is not None:
            try:
                delta = self.images.read_incremental(self.spark, int(base))
                mode = "incremental"
            except ValueError:
                pass
        prev_meta = dict((m.get("meta") or {})) if m else {}
        n_vec = prev_meta.get("n_vectors")
        if n_vec is None and m is not None:
            n_vec = self.image_emb.read(self.spark).count()  # pre-counter table
        n_vec = int(n_vec or 0)
        if mode == "incremental" and self.recrawl_after is not None and int(base) != images_sid:
            # If any recrawled id came back with DIFFERENT content, its
            # stored embedding is stale and keep-the-original would be
            # silently wrong forever (the images history stays
            # append-only, so read_incremental would never force the
            # rebuild). Same probe as publish_dedup: content change ⇒
            # distinct phash per id > 1 ⇒ full re-embed over the
            # latest-fetch view. pHash is a decode-free proxy for the
            # bytes — any pixel change that matters to the embedding
            # moves it.
            delta_ids = delta.select("image_id").distinct()
            changed = (
                self.images.read(self.spark)
                .join(delta_ids, "image_id", "left_semi")
                .groupBy("image_id")
                .agg(F.countDistinct("phash").alias("k"))
                .filter(F.col("k") > 1)
                .limit(1)
                .count()
            )
            if changed:
                mode = "full"
        if mode == "incremental":
            if self.recrawl_after is not None and int(base) != images_sid:
                # recrawl mode re-appends existing image_ids: embedding
                # them again would append duplicate vec_id rows (the emb
                # table growing O(crawls), and a later full index rebuild
                # persisting duplicate postings). Keep only genuinely-new
                # ids; a recrawled id with UNCHANGED content (verified
                # above) keeps its original embedding.
                existing = self.image_emb.read(self.spark).select(
                    F.col("vec_id").alias("image_id")
                )
                delta = delta.dropDuplicates(["image_id"]).join(
                    existing, "image_id", "left_anti"
                )
            if int(base) == images_sid:
                pass  # images unchanged since last publish: nothing to do
            elif delta.isEmpty():
                # new images snapshot but no added rows (meta-only
                # commits / all rows recrawls): advance the recorded
                # base without a write, preserving the vector counter
                head = self.image_emb.current_manifest()
                self.image_emb.commit_dirs(
                    head["dirs"],
                    self.image_emb.schema(),
                    {**head.get("meta", {}), "images_snapshot": images_sid},
                    op="emb-meta",
                )
            else:
                # delta.count() is a cheap parquet scan (no decode); the
                # running counter keeps the publish report O(delta) —
                # never a full count over the 10^9-vector index table
                n_new = delta.count()
                n_vec += n_new
                self.image_emb.append(
                    embed_images(delta),
                    meta={"images_snapshot": images_sid, "n_vectors": n_vec},
                )
        else:
            # latest fetch per id under recrawl, identity otherwise
            src = self.latest_images()
            n_vec = src.count()
            self.image_emb.overwrite(
                embed_images(src),
                meta={"images_snapshot": images_sid, "n_vectors": n_vec},
            )
        if n_vec == 0:
            return {"mode": mode, "index": "empty", "vectors": 0}
        # quantize only matters on the index's FIRST build; thereafter
        # the storage form is sticky in the index manifest
        r = self.ann_index.update(self.spark, self.image_emb, quantize=quantize)
        if self.snapshot_gc:
            self.image_emb.expire()
            self.ann_index.table.expire()
        return {"mode": mode, "index": r["mode"], "vectors": n_vec}

    def latest_images(self) -> DataFrame:
        """The corpus-member view of the images table: under recrawl
        mode the table holds one appended row per fetch of the same
        image_id, and the member is the LATEST fetch (the reference's
        upsert-by-_id view of a re-crawled document). Without recrawl
        the table is already one row per id and this is a no-op
        projection."""
        src = self.images.read(self.spark)
        if self.recrawl_after is None:
            return src
        w = Window.partitionBy("image_id").orderBy(F.col("round_id").desc())
        return (
            src.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    # --------------------------------------------- link-graph priority
    def link_ranks(self, iters: int = 3, damping: float = 0.85) -> DataFrame:
        """PageRank over the crawl's link graph, derived (not stored):
        the outlink relation is a pure function of each fetched page's
        URL (fetch.expand_outlinks mirrors synth.py_outlinks
        bit-for-bit), so the edge set is recomputed from the seen
        table's 200-rows instead of persisting a links sink — zero
        extra write volume on the crawl path, same recompute-over-store
        trade the golden simulator relies on. Returns (url, rank) over
        the union of crawled pages and their link targets."""
        from .ops.linkrank import pagerank

        ok = (
            self.seen.read(self.spark)
            .filter(F.col("status") == 200)
            .select(
                "url",
                F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("host"),
                F.lit(0).cast("int").alias("depth"),
            )
        )
        edges = expand_outlinks(
            ok, self.cfg.n_hosts, self.cfg.target_space, 1, keep_src=True
        ).select(
            F.col("src_url").alias("src"),
            canonicalize("dst_url").alias("dst"),
        )
        return pagerank(edges, iters=iters, damping=damping).select(
            F.col("node").alias("url"), "rank"
        )

    def reprioritize(self, ranks: DataFrame) -> None:
        """Rewrite the pending frontier's priorities from a (url, rank)
        relation — link-structure-aware scheduling (the reference's
        hand-configured crawl-order list, ContentfulCrawler.java:133-149,
        generalized to a computed rank).

        priority := round(rank / max(rank), 6) * (1 - 1e-6)
                    + unit(url) * 1e-7
        Normalized into [0, 1) so later hash-priority arrivals stay on a
        comparable scale; the normalized-rank quantum (1e-6) dominates
        the hash tiebreak (< 1e-7), so selection order follows rank,
        ties broken by the original deterministic hash. Rounding at 6dp
        makes the priority reproducible across parallelism levels (float
        partial-agg order can differ in the last ulp). URLs absent from
        ``ranks`` get rank 0 (pure tiebreak, below every ranked URL).

        Commit discipline mirrors add_seeds: rebuild from the COMMITTED
        frontier snapshot, all-buckets replace, then advance the round
        manifest's frontier pointer so resume keeps the rewrite."""
        from .hashing import unit

        m = self.last_round()
        fr_sid = m["snapshots"]["frontier"] if m is not None else None
        if fr_sid is not None and fr_sid != self.frontier.current_snapshot_id():
            self.frontier.rollback(fr_sid)
        mx = ranks.agg(F.max("rank").alias("_mx"))  # 1-row, lazy
        r = (
            ranks.crossJoin(F.broadcast(mx))
            .select(
                "url",
                (
                    F.round(F.col("rank") / F.col("_mx"), 6) * (1.0 - 1e-6)
                ).alias("_r"),
            )
        )
        upd = (
            self.frontier.read(self.spark, fr_sid)
            .join(r, "url", "left")
            .withColumn(
                "priority",
                F.coalesce(F.col("_r"), F.lit(0.0))
                + unit(F.col("url"), "|prio") * 1e-7,
            )
            .drop("_r")
        )
        self.frontier.replace_buckets(
            upd, list(range(self.frontier_buckets)), self._bucket()
        )
        if m is not None:
            m["snapshots"]["frontier"] = self.frontier.current_snapshot_id()
            # one atomic manifest update carries BOTH the new frontier
            # pointer and the hook marker: resume() re-applies the
            # rewrite iff the marker is absent (crash before/during the
            # rewrite), and the re-application is deterministic because
            # link_ranks is a pure function of the committed seen table
            m["reprioritized"] = True
            atomic_write_json(
                os.path.join(self.state_dir, f"round-{m['round_id']:06d}.json"), m
            )
        self._discard_presel()

    def _auto_reprioritize_due(self) -> bool:
        """True when the every-k hook is due after the last committed
        round and has not been applied (resume-safe idempotence)."""
        if not self.reprioritize_every:
            return False
        m = self.last_round()
        return (
            m is not None
            and (m["round_id"] + 1) % self.reprioritize_every == 0
            and not m.get("reprioritized")
        )

    def export_training_set(
        self,
        out_root: str,
        shard_rows: int = 10_000,
        min_entropy: float | None = None,
        min_lap_var: float | None = None,
        mix: dict | None = None,
        redact_captions: bool = False,
        tau: int = 7,
    ) -> dict:
        """Publish one versioned training-set release from the crawl:
        near-dup keepers only (the pHash keeper map maintained by
        publish_dedup — refreshed here first if it lags the images
        table), optional quality-threshold curation, exact fixed-row
        shards, atomic manifest commit (trainset.py — the reference's
        index-publish + alias-swap step re-expressed as a corpus
        release). The export is O(corpus) by design — it materializes
        the release — but within that bound it is one shuffle plus at
        most one Arrow decode pass (none unless quality thresholds are
        set), and the keeper map it consumes is maintained
        incrementally between releases."""
        from . import trainset

        images_sid = self.images.current_snapshot_id()
        ded_m = self.image_dedup.current_manifest()
        ded_meta = dict((ded_m.get("meta") or {})) if ded_m else {}
        if (
            ded_meta.get("images_snapshot") != images_sid
            or ded_meta.get("tau") != tau
        ):
            # bring the keeper map current — stale snapshot OR a keeper
            # map maintained at a different tau (publish_dedup then does
            # the full recompute the threshold change requires)
            self.publish_dedup(tau=tau)
        manifest = trainset.export_training_set(
            self.spark,
            self.latest_images(),
            out_root,
            dedup_df=self.image_dedup.read(self.spark),
            shard_rows=shard_rows,
            min_entropy=min_entropy,
            min_lap_var=min_lap_var,
            mix=mix,
            redact_captions=redact_captions,
            sources={
                "images_snapshot": images_sid,
                "image_dedup_snapshot": self.image_dedup.current_snapshot_id(),
            },
        )
        trainset.expire_exports(out_root)
        return manifest

    def export_training_delta(self, out_root: str, tau: int = 7) -> dict:
        """Append a DELTA release to the series at ``out_root``: curate
        and ship only the images fetched since the series' recorded
        snapshot — the O(delta) release path. Any history that breaks
        the incremental diff (rollback, expired base, table rewrite)
        falls back to a full export over the same series, which doubles
        as the compaction release that re-materializes the exact
        current keeper set (dropping dups discovered between
        already-released rows, which deltas by design never revoke)."""
        from . import trainset

        man = trainset._read_manifest(out_root)
        if man is None:
            raise FileNotFoundError(
                f"no release series at {out_root}: run export_training_set first"
            )
        images_sid = self.images.current_snapshot_id()
        ded_m = self.image_dedup.current_manifest()
        ded_meta = dict((ded_m.get("meta") or {})) if ded_m else {}
        if (
            ded_meta.get("images_snapshot") != images_sid
            or ded_meta.get("tau") != tau
        ):
            self.publish_dedup(tau=tau)
        mix = man["filters"].get("mix")
        if mix:
            # a mixture is a global property: only a full re-mix over
            # the whole corpus preserves the recorded composition
            # (trainset.export_training_delta refuses mixed series for
            # the same reason), so a mixed series' "delta" is always a
            # compaction release with the series' own policy
            return self.export_training_set(
                out_root,
                shard_rows=man["shard_rows"],
                min_entropy=man["filters"].get("min_entropy"),
                min_lap_var=man["filters"].get("min_lap_var"),
                mix={k: mix[k] for k in ("stratum_col", "stratum_expr", "weights", "total", "salt") if mix.get(k) is not None},
                redact_captions=bool(man["filters"].get("redact_captions")),
                tau=tau,
            )
        base = man.get("sources", {}).get("images_snapshot")
        try:
            delta = self.images.read_incremental(self.spark, int(base))
        except (TypeError, ValueError):
            return self.export_training_set(
                out_root,
                shard_rows=man["shard_rows"],
                min_entropy=man["filters"].get("min_entropy"),
                min_lap_var=man["filters"].get("min_lap_var"),
                redact_captions=bool(man["filters"].get("redact_captions")),
                tau=tau,
            )
        if self.recrawl_after is not None:
            # recrawl re-appends existing ids: a delta row is NEW only
            # if its id was absent at the base snapshot, and within the
            # delta the corpus member is the latest fetch per id
            orig_cols = list(delta.columns)
            others = [c for c in delta.columns if c not in ("image_id", "round_id")]
            delta = (
                delta.groupBy("image_id")
                # round_id leads the struct: max() picks the latest fetch
                .agg(F.max(F.struct("round_id", *others)).alias("s"))
                .select("image_id", "s.round_id", *[f"s.{c}" for c in others])
                .select(*orig_cols)  # keep the table's column order
            ).join(
                self.images.read(self.spark, int(base)).select("image_id"),
                "image_id",
                "left_anti",
            )
        manifest = trainset.export_training_delta(
            self.spark,
            delta,
            out_root,
            dedup_df=self.image_dedup.read(self.spark),
            sources={
                "images_snapshot": images_sid,
                "image_dedup_snapshot": self.image_dedup.current_snapshot_id(),
            },
        )
        trainset.expire_exports(out_root)
        return manifest
