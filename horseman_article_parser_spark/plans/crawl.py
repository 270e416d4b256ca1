"""The crawl scheduler: round-based frontier → fetch wave → link
expansion, with politeness, URL-seen dedup, metrics and exact resume.

This is the north-rule core. Round 0 reproduces the reference's
scheduling order exactly (uniq → uniqueByHost(limit) → FIFO by seed
position, /root/reference/scripts/batch-sample-run.js:281-283,315-319 —
verified by tests against a pure-Python reimplementation). Rounds ≥1
implement the north rule's extension the reference lacks: links
extracted in-article are canonicalized, hashed, bloom-deduped and
enqueued with priority = link_depth + in_article_link_score, emitted in
deterministic (priority, seq) order under per-host politeness budgets.

Scale shape of one round (what the plan compiles to):
  pending scan (parquet)                           — no shuffle
  robots broadcast join                            — no shuffle
  two-phase host budget                            — 2 window shuffles,
                                                      salt-bounded keys
  top-k wave (orderBy+limit = TakeOrdered)         — per-partition top-k
  fetch + extract + link canonicalize              — 1 Arrow crossing
    (mapInPandas; emits article + link_targets)
  posexplode(link_targets) + skip/depth filter     — narrow, JVM codegen
  seen-filter claim (bloom: in-batch dedup runs    — 1 shard shuffle
    inside the shard task)
  seq = parent_pos * LINK_POS_STRIDE + link_pos    — arithmetic, narrow
  pending' = pending ⟕̸ broadcast(wave) ∪ new       — no frontier shuffle

The only Python in a round is the fetch+extract kernel and the seen
filter's shard task; every predicate/window/join is JVM-side.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..datagen.synthweb import fetch_page
from ..functions.urls import canonicalize_url, skip_col
from ..operators.frontier_ops import (
    build_wave0,
    with_host,
)
from ..operators.politeness import (
    enforce_host_budget,
    host_budgets,
    robots_filter,
)
from ..operators.seen_filter import BloomSeenFilter, ExactSeenFilter
from .checkpoint import CrawlStore

# seq values for round r live in [r*SEQ_STRIDE, (r+1)*SEQ_STRIDE)
SEQ_STRIDE = 1 << 40
# within a round, seq = parent_wave_pos * LINK_POS_STRIDE + link_pos;
# injective because link_pos < 1024 (extract caps links at 1000) and
# order-preserving, so it replaces a dense rank without a ranking job.
# Bounds: wave_size * 1024 must stay < SEQ_STRIDE (wave_size < 2^30).
LINK_POS_STRIDE = 1 << 10


@dataclass
class CrawlConfig:
    wave_size: int = 100
    round0_limit: int = 100
    unique_hosts_round0: bool = True
    default_host_budget: int = 4
    n_salts: int = 16
    seen_mode: str = "bloom"  # "bloom" | "exact"
    n_shards: int = 32
    total_bloom_bits: int = 1 << 24
    max_depth: int = 8
    n_hosts: int = 50
    fetch_partitions: int | None = None
    # synthetic-page content multiplier (datagen.synthweb.page_spec):
    # 1 = small parity fixtures; ~20 ≈ realistic 30 KB article pages
    # for throughput/scaling benchmarks.
    fetch_scale: int = 1
    # simulated network RTT per URL (ms) for benchmark realism — real
    # fetches are latency-bound (the reference budgets 20-40 s/URL,
    # /root/reference/helpers.js:7); 0 disables.
    fetch_rtt_ms: float = 0.0
    # driver-side lineage counts (links extracted / new URLs) cost one
    # extra Spark job each per round; the per-host metrics TABLE is
    # always written regardless — this only gates the console numbers.
    lineage_counts: bool = True
    # T5 retry ladder: re-queue non-200 fetches with attempt+1 and a
    # linear round backoff (not_before = round + 1 + attempt), up to
    # max_attempts total tries. Off by default: retries extend the
    # reference's semantics (its batch loop retries per-URL in-process),
    # and the crawl-order parity fixtures pin the no-retry schedule.
    retry_failed: bool = False
    max_attempts: int = 3
    # S7 AMP static race: try AMP candidate URLs first and prefer the
    # static page when it returns 200 with >= amp_min_chars of HTML
    # (/root/reference/index.js:322-366,485-497: prefer static when the
    # background AMP fetch yields >=1000 chars). Adds a `source` column
    # ('amp' | 'dynamic') to results for the A2 per-source rollup.
    amp_static_first: bool = False
    amp_min_chars: int = 1000
    # S5 HTTP probe: preflight status check before the full fetch
    # (httpProbe, /root/reference/scripts/batch-sample-run.js:34-57) —
    # a failing probe (not ok and not 405) skips the page fetch and
    # records the probe status. Off by default (parity fixtures pin the
    # probe-less wave; the reference only probes in its batch scripts).
    probe_first: bool = False
    # S8 empty-content fallback: when a fetched page yields <2
    # substantial paragraphs, follow its rel=canonical link in-kernel
    # and substitute the reference's synthesized live-summary container
    # when the canonical page is rich (/root/reference/index.js:
    # 1243-1336). Off by default: parity fixtures pin the plain pages.
    canonical_rescue: bool = False
    # In-kernel fetch fan-out: real crawls are RTT-bound, so each Arrow
    # batch overlaps network waits with a bounded thread pool (sleep/IO
    # releases the GIL; extraction stays serial per task so CPU work
    # never oversubscribes the cores the task scheduler already owns).
    # Per-host volume is bounded per ROUND by the politeness budget
    # computed at wave selection; within a wave the reference's worker
    # pool fetches concurrently too
    # (/root/reference/scripts/batch-sample-run.js:315-338).
    fetch_concurrency: int = 8
    # T2 persistent per-host token buckets: each round a host's budget
    # is min(cap, carried_tokens + refill) where refill is its
    # robots-derived budget (else default_host_budget) and cap =
    # bucket_cap_rounds * refill. Unused budget carries over — the
    # stateful generalization of the per-wave cap (the reference has no
    # token bucket at all; the north rule adds it). State checkpoints to
    # host_state/<round> like every other table, so resume is exact.
    token_buckets: bool = False
    bucket_cap_rounds: int = 2
    extra: dict = field(default_factory=dict)


def link_targets(article: dict) -> list[str | None] | None:
    """canonicalize_url of each `article["links"]` href, index-aligned
    with the links (NULL where an href does not canonicalize)."""
    links = article.get("links")
    if links is None:
        return None
    return [canonicalize_url(link["href"]) for link in links]


FRONTIER_COLS = ["url", "seq", "host", "depth", "priority", "attempt", "not_before"]


def _ensure_frontier_cols(df: DataFrame) -> DataFrame:
    """Backward/forward-compatible pending schema: attempt (retry count,
    T5) and not_before (earliest eligible round, the round-based analog
    of the reference's linear 1000·attempt ms backoff,
    /root/reference/scripts/batch-crawl.js:146-147) default to 0."""
    if "attempt" not in df.columns:
        df = df.withColumn("attempt", F.lit(0))
    if "not_before" not in df.columns:
        df = df.withColumn("not_before", F.lit(0).cast("long"))
    return df


class CrawlScheduler:
    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        config: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        fetch_fn: Callable[[str], tuple[int, str]] | None = None,
        probe_fn: Callable[[str], int] | None = None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.probe_fn = probe_fn
        self.store = CrawlStore(store_dir)
        self.robots = robots
        self.budgets = host_budgets(robots)
        if fetch_fn is not None:
            self.fetch_fn = fetch_fn
        elif self.config.fetch_scale != 1 or self.config.fetch_rtt_ms > 0:
            scale = self.config.fetch_scale
            rtt_s = self.config.fetch_rtt_ms / 1000.0

            def _fetch(u: str) -> tuple[int, str]:
                if rtt_s > 0:
                    time.sleep(rtt_s)
                return fetch_page(u, scale=scale)

            self.fetch_fn = _fetch
        else:
            self.fetch_fn = fetch_page
        if self.config.seen_mode == "bloom":
            self.seen = BloomSeenFilter(
                store_dir,
                n_shards=self.config.n_shards,
                total_bits=self.config.total_bloom_bits,
            )
        elif self.config.seen_mode == "cuckoo":
            from ..operators.seen_filter import CuckooSeenFilter

            # ~same memory as the bloom config: buckets*4 slots*2B per shard
            self.seen = CuckooSeenFilter(
                store_dir,
                n_shards=self.config.n_shards,
                buckets_per_shard=max(
                    1024, self.config.total_bloom_bits // (self.config.n_shards * 64)
                ),
            )
        else:
            self.seen = ExactSeenFilter(store_dir)

    # ------------------------------------------------------------ setup

    def init_from_seeds(self, seeds: DataFrame) -> None:
        """Round -1: build the initial pending frontier with the
        reference's wave-0 candidate chain, claim them in the seen set.

        Seeds filtered out by uniq/uniqueByHost are dropped, exactly as
        the reference drops them (they are never re-queued there)."""
        cfg = self.config
        wave0 = build_wave0(seeds, cfg.round0_limit, cfg.unique_hosts_round0)
        pending = wave0.select(
            "url",
            "seq",
            "host",
            F.lit(0).alias("depth"),
            F.lit(0.0).alias("priority"),
            F.lit(0).alias("attempt"),
            F.lit(0).cast("long").alias("not_before"),
        )
        claimed = self.seen.claim_unseen(pending)
        self.store.write(claimed, "pending", -1)
        self.store.commit_round(-1)

    def resume(self) -> int:
        """Return the next round to run, restoring seen-filter state."""
        last = self.store.last_round()
        if hasattr(self.seen, "resume"):
            self.seen.resume()
        return last + 1

    # ------------------------------------------------------------ round

    def _fetch_extract(self, wave: DataFrame) -> DataFrame:
        """Fetch + article extraction + link canonicalization FUSED into
        one Arrow crossing: each wave row comes back with `status`,
        `source`, the `article` struct and `link_targets`, the
        canonical form of every `article.links` href (index-aligned, so
        posexplode positions match the links).

        Chained mapInPandas stages or a canonicalize UDF would each run
        their own Python workers per task with a JVM relay between them;
        fusing keeps one worker per task and ships html JVM→Python
        exactly once — html never returns to the JVM, only the narrow
        article struct and the link targets do (results persist the
        struct; the raw page is re-fetchable by URL)."""
        from ..functions.urls import amp_candidates
        from ..operators.extract import ARTICLE_STRUCT, extract_article

        fetch_fn = self.fetch_fn
        amp_first = self.config.amp_static_first
        amp_min = self.config.amp_min_chars
        parts = self.config.fetch_partitions or self.spark.sparkContext.defaultParallelism
        schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in wave.schema.fields
        ) + (f", `status` int, `source` string, `article` {ARTICLE_STRUCT.simpleString()}"
             ", `link_targets` array<string>")

        rescue = self.config.canonical_rescue
        probe_first = self.config.probe_first
        probe_fn = getattr(self, "probe_fn", None)

        def fetch_one(u: str) -> tuple[int, str, str, str]:
            """(status, final_url, source, html) with optional HEAD→GET
            probe (S5), AMP race (S7) and canonical rescue (S8)."""
            cached = None  # (status, html) when the probe fallback was a full GET
            if probe_first:
                from ..operators.probe import probe_ok

                if probe_fn is not None:
                    st0 = probe_fn(u)
                else:
                    # no HEAD-capable probe: the preflight IS a full GET —
                    # cache it so a fetch-worthy URL isn't fetched twice
                    cached = fetch_fn(u)
                    st0 = cached[0]
                if not probe_ok(st0):
                    return st0, u, "probe", ""
            if amp_first:
                for cu in amp_candidates(u) or []:
                    st, html = fetch_fn(cu)
                    if st == 200 and html and len(html) >= amp_min:
                        return st, cu, "amp", html
            st, html = cached if cached is not None else fetch_fn(u)
            if rescue and st == 200 and html:
                from ..operators.canonical import (
                    MIN_PARAS,
                    canonical_href,
                    live_summary_html,
                    substantial_paragraphs,
                )

                if len(substantial_paragraphs(html)) < MIN_PARAS:
                    canon = canonical_href(html)
                    if canon:
                        st2, html2 = fetch_fn(canon)
                        if st2 == 200 and html2:
                            cp = substantial_paragraphs(html2)
                            if len(cp) >= MIN_PARAS:
                                return st, u, "canonical", live_summary_html(cp)
            return st, u, "dynamic", html

        concurrency = max(1, self.config.fetch_concurrency)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                pdf = pdf.copy()
                urls = list(pdf["url"])
                # overlap RTTs: map preserves input order, so results stay
                # aligned with the wave rows regardless of completion order
                if concurrency > 1 and len(urls) > 1:
                    with ThreadPoolExecutor(
                        max_workers=min(concurrency, len(urls))
                    ) as ex:
                        fetched = list(ex.map(fetch_one, urls))
                else:
                    fetched = [fetch_one(u) for u in urls]
                status = []
                source = []
                articles = []
                for st, fu, src_, html in fetched:
                    status.append(st)
                    source.append(src_)
                    articles.append(extract_article(fu, html))
                pdf["status"] = status
                pdf["source"] = source
                pdf["article"] = articles
                pdf["link_targets"] = [link_targets(a) for a in articles]
                yield pdf

        return wave.repartition(parts).mapInPandas(run, schema=schema)

    def _token_budget_df(self, pending: DataFrame, round_no: int) -> DataFrame:
        """(host, _budget) for this round under token-bucket semantics;
        also stashes the availability for the post-wave state update."""
        cfg = self.config
        spark = self.spark
        hosts = pending.select("host").distinct()
        prev = None
        if self.store.exists("host_state", round_no - 1):
            prev = self.store.read(spark, "host_state", round_no - 1)
            # carry-over must include hosts with ZERO pending rows this
            # round — otherwise their banked tokens vanish from the
            # written state and silently reset on next appearance
            hosts = hosts.unionByName(prev.select("host")).distinct()
        if self.budgets is not None:
            refill_src = self.budgets.withColumnRenamed("_budget", "_refill")
            hosts = hosts.join(F.broadcast(refill_src), "host", "left")
        else:
            hosts = hosts.withColumn("_refill", F.lit(None).cast("int"))
        refill = F.coalesce(F.col("_refill"), F.lit(cfg.default_host_budget))
        if prev is not None:
            hosts = hosts.join(prev, "host", "left")
        else:
            hosts = hosts.withColumn("tokens", F.lit(None).cast("long"))
        cap = refill * cfg.bucket_cap_rounds
        avail = F.least(cap, F.coalesce(F.col("tokens"), F.lit(0)) + refill)
        return hosts.select(
            "host",
            F.greatest(F.lit(0), avail).cast("int").alias("_budget"),
        )

    def _write_host_state(self, budget_df: DataFrame, wave: DataFrame,
                          round_no: int) -> None:
        used = wave.groupBy("host").agg(F.count("*").alias("_used"))
        state = (
            budget_df.join(used, "host", "left")
            .select(
                "host",
                (F.col("_budget") - F.coalesce(F.col("_used"), F.lit(0)))
                .cast("long")
                .alias("tokens"),
            )
        )
        self.store.write(state, "host_state", round_no)

    def run_round(self, round_no: int) -> dict:
        # one driver thread overlaps the wave and pending checkpoint
        # writes with the round's other jobs; `with` joins it even when
        # a write raises, so no writer outlives a failed round
        with ThreadPoolExecutor(max_workers=1) as pool:
            return self._run_round(round_no, pool)

    def _run_round(self, round_no: int, pool: ThreadPoolExecutor) -> dict:
        cfg = self.config
        spark = self.spark
        t0 = time.monotonic()
        timings: dict[str, float] = {}

        def _mark(label: str, since: float) -> float:
            now = time.monotonic()
            timings[label] = round(now - since, 3)
            return now

        pending = _ensure_frontier_cols(
            self.store.read(spark, "pending", round_no - 1)
        )

        # --- wave selection: backoff gate → robots → politeness → top-k
        eligible = pending.filter(F.col("not_before") <= round_no)
        candidates = robots_filter(eligible, self.robots)
        budget_df = (
            self._token_budget_df(pending, round_no)
            if cfg.token_buckets
            else self.budgets
        )
        polite = enforce_host_budget(
            candidates,
            budget_df,
            cfg.default_host_budget,
            order_cols=["priority", "seq"],
            n_salts=cfg.n_salts,
        )
        # wave cut = TakeOrderedAndProject: per-partition top-k + merge.
        # The previous plan ranked the ENTIRE polite frontier through a
        # range repartition + eager checkpoint + offsets collect (3 jobs
        # and a full shuffle) only to keep the first wave_size rows; the
        # top-k never materializes more than wave_size rows per task.
        # pos is then a window over the ALREADY-LIMITED rows — bounded
        # by wave_size (a config constant), never by frontier size.
        from pyspark.sql.window import Window

        top = polite.orderBy("priority", "seq").limit(cfg.wave_size)
        w_pos = Window.orderBy("priority", "seq")
        wave = top.withColumn("pos", F.row_number().over(w_pos) - 1)
        wave = wave.persist()
        # materialize the cache once, then the wave checkpoint write and
        # the fetch+extract+results job run CONCURRENTLY on the driver
        # pool (guide §2.6 — independent jobs back-fill each other's
        # stragglers; both only read the cached wave). The wave write
        # costs ~0.4 s/round that was previously serial.
        wave_count = wave.count()

        def _write_wave() -> None:
            # sortWithinPartitions, not orderBy — the wave is a single
            # partition (global pos window), so a local sort preserves
            # the same on-disk order without orderBy's range-sampling
            # job + exchange per round (r6)
            self.store.write(
                wave.sortWithinPartitions("pos"), "waves", round_no)
            if cfg.token_buckets:
                self._write_host_state(budget_df, wave, round_no)

        fut_wave = pool.submit(_write_wave)
        t = _mark("wave_select", t0)

        # --- fetch + extract + canonicalize (ONE fused Arrow crossing);
        # link_targets feeds link expansion only, never the checkpoint
        articles = self._fetch_extract(wave).persist()
        self.store.write(articles.drop("link_targets"), "results", round_no)
        fut_wave.result()
        t = _mark("fetch_extract", t)

        # --- link expansion → filter → dedup → claim (JVM-only)
        links = articles.filter(F.col("status") == 200).select(
            F.col("pos").alias("parent_pos"),
            F.col("depth").alias("parent_depth"),
            F.posexplode_outer("link_targets").alias("pos", "target"),
        )
        links = links.filter(
            F.col("target").isNotNull()
            & ~skip_col(F.col("target"))
            & (F.col("parent_depth") < cfg.max_depth)
        )
        n_extracted = links.count() if cfg.lineage_counts else -1
        t = _mark("link_expand", t)
        # in-batch first-occurrence dedup: keep the earliest discovery in
        # crawl-schedule order (parent's wave pos, then link pos).
        # r6: for the sharded filters the dedup runs INSIDE the claim's
        # shard task (shard = f(url) already co-locates every copy), so
        # the separate groupBy(target) exchange disappears — one shuffle
        # where the old plan paid two; identical min-struct semantics.
        renamed = links.select(
            F.col("target").alias("url"), "parent_pos", "pos", "parent_depth"
        )
        if isinstance(self.seen, BloomSeenFilter):
            claimed = self.seen.claim_unseen(
                renamed, dedup_first=["parent_pos", "pos", "parent_depth"]
            )
        else:
            dedup = renamed.groupBy("url").agg(
                F.min(
                    F.struct("parent_pos", "pos", "parent_depth")
                ).alias("first")
            )
            claimed = self.seen.claim_unseen(
                dedup.select(
                    "url",
                    F.col("first.parent_pos").alias("parent_pos"),
                    F.col("first.pos").alias("pos"),
                    F.col("first.parent_depth").alias("parent_depth"),
                )
            )
        new_rows = claimed.select(
            "url", "parent_pos", "pos",
            (F.col("parent_depth") + 1).alias("depth"),
        )
        t = _mark("seen_claim", t)
        # deterministic seq for the next generation: an order-preserving
        # ARITHMETIC encode of the (unique) discovery position — no
        # ranking job, no extra shuffle. parent_pos < wave_size and
        # link pos < 1024 (extract caps links at 1000, reference W7), so
        # the encode is injective and ordered exactly like a dense rank.
        new_frontier = with_host(
            new_rows.select(
                "url",
                (
                    F.lit((round_no + 1) * SEQ_STRIDE)
                    + F.col("parent_pos") * LINK_POS_STRIDE
                    + F.col("pos")
                ).alias("seq"),
                F.col("depth").cast("int"),
                # north rule: priority = link_depth + in-article link score
                (
                    F.col("depth")
                    + F.least(F.col("pos"), F.lit(9)).cast("double") / 10.0
                ).alias("priority"),
                F.lit(0).alias("attempt"),
                F.lit(0).cast("long").alias("not_before"),
            )
        ).select(*FRONTIER_COLS)

        # --- next pending = (pending − wave) ∪ new [∪ retries]
        # wave is <= wave_size rows (a config constant): broadcasting the
        # anti-join build side means the 10^10-row pending frontier is
        # NEVER shuffled to subtract one wave
        remaining = pending.join(
            F.broadcast(wave.select("url")), on="url", how="left_anti"
        )
        next_pending = remaining.select(*FRONTIER_COLS).unionByName(new_frontier)
        if cfg.retry_failed:
            # T5: failed rows re-enter with attempt+1; linear backoff in
            # rounds mirrors the reference's 1000·attempt ms sleep
            retries = articles.filter(
                (F.col("status") != 200)
                & (F.col("attempt") + 1 < cfg.max_attempts)
            ).select(
                "url", "seq", "host", "depth", "priority",
                (F.col("attempt") + 1).alias("attempt"),
                (F.lit(round_no + 1) + F.col("attempt")).cast("long").alias("not_before"),
            )
            next_pending = next_pending.unionByName(retries)
        # pending and metrics read only cached inputs (claimed is
        # checkpointed, articles persisted) and write disjoint paths —
        # run them concurrently too (guide §2.6)
        fut_pending = pool.submit(
            self.store.write, next_pending, "pending", round_no)
        t = _mark("pending_submit", t)

        # --- metrics: per-host aggregate (A1) + lineage counts
        n_new = new_frontier.count() if cfg.lineage_counts else -1
        metrics = (
            articles.groupBy("host")
            .agg(
                F.count("*").alias("scheduled"),
                F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("ok"),
                F.sum(F.when(F.col("status") != 200, 1).otherwise(0)).alias("err"),
                # A2 per-source rollup (amp vs dynamic,
                # /root/reference/scripts/batch-sample-run.js:376-377)
                F.sum(F.when(F.col("source") == "amp", 1).otherwise(0)).alias("amp"),
                F.sum(F.when(F.col("source") == "dynamic", 1).otherwise(0)).alias("dynamic"),
            )
            .withColumn("round", F.lit(round_no))
        )
        self.store.write(metrics, "metrics", round_no)
        fut_pending.result()
        # the commit marker lands only after EVERY table of the round is
        # on disk (the happens-before edge resume depends on)
        self.store.commit_round(round_no)

        wave.unpersist()
        articles.unpersist()
        _mark("metrics_commit", t)
        return {
            "round": round_no,
            "scheduled": wave_count,
            "links_extracted": n_extracted,
            "new_urls": n_new,
            "seconds": time.monotonic() - t0,
            "timings": timings,
        }

    def run(self, n_rounds: int, seeds: DataFrame | None = None) -> list[dict]:
        start = self.resume()
        if self.store.last_round() < -1:  # empty store: needs seeding
            if seeds is None:
                raise ValueError("store is empty; pass seeds or init_from_seeds first")
            self.init_from_seeds(seeds)
            start = 0
        stats = []
        for r in range(start, n_rounds):
            stats.append(self.run_round(r))
        return stats
