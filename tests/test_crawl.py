"""End-to-end crawl parity: the distributed scheduler's per-round
scheduled order must EXACTLY match the pure-Python reference simulator
under the same seed list + politeness budget (north rule), and resume
from checkpoint must continue identically."""

import threading

import pyspark.sql.functions as F
import pytest

from horseman_article_parser_spark.datagen.frontier import build_seed_frontier, seed_urls
from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler
from horseman_article_parser_spark.plans.reference_sim import sim_crawl

N_SEEDS = 120
ROUND0 = 40
WAVE = 30
BUDGET = 3
N_ROUNDS = 3


def _spark_waves(scheduler, spark, n_rounds):
    waves = []
    for r in range(n_rounds):
        wave = scheduler.store.read(spark, "waves", r)
        waves.append([x["url"] for x in wave.orderBy("pos").collect()])
    return waves


def _expected_waves():
    return sim_crawl(
        seed_urls(N_SEEDS),
        n_rounds=N_ROUNDS,
        wave_size=WAVE,
        round0_limit=ROUND0,
        default_host_budget=BUDGET,
    )


def test_multiround_crawl_order_matches_sim_exact_seen(spark, tmp_store):
    cfg = CrawlConfig(
        wave_size=WAVE,
        round0_limit=ROUND0,
        default_host_budget=BUDGET,
        seen_mode="exact",
    )
    sched = CrawlScheduler(spark, tmp_store, cfg)
    seeds = build_seed_frontier(spark, N_SEEDS)
    stats = sched.run(N_ROUNDS, seeds=seeds)
    assert len(stats) == N_ROUNDS
    got = _spark_waves(sched, spark, N_ROUNDS)
    expected = _expected_waves()
    for r in range(N_ROUNDS):
        assert got[r] == expected[r], f"round {r} order mismatch"


def test_crawl_resume_is_exact(spark, tmp_store):
    cfg = CrawlConfig(
        wave_size=WAVE,
        round0_limit=ROUND0,
        default_host_budget=BUDGET,
        seen_mode="exact",
    )
    sched1 = CrawlScheduler(spark, tmp_store, cfg)
    seeds = build_seed_frontier(spark, N_SEEDS)
    sched1.run(2, seeds=seeds)  # rounds 0-1, then "crash"

    sched2 = CrawlScheduler(spark, tmp_store, cfg)  # fresh process
    stats = sched2.run(N_ROUNDS)  # resumes at round 2
    assert [s["round"] for s in stats] == [2]
    got = _spark_waves(sched2, spark, N_ROUNDS)
    expected = _expected_waves()
    for r in range(N_ROUNDS):
        assert got[r] == expected[r], f"round {r} post-resume mismatch"


def test_bloom_mode_matches_exact_at_low_load(spark, tmp_store):
    # with a roomy bloom filter, FP≈0 ⇒ identical schedule to exact mode
    cfg = CrawlConfig(
        wave_size=WAVE,
        round0_limit=ROUND0,
        default_host_budget=BUDGET,
        seen_mode="bloom",
        n_shards=8,
        total_bloom_bits=1 << 22,
    )
    sched = CrawlScheduler(spark, tmp_store, cfg)
    sched.run(N_ROUNDS, seeds=build_seed_frontier(spark, N_SEEDS))
    got = _spark_waves(sched, spark, N_ROUNDS)
    expected = _expected_waves()
    for r in range(N_ROUNDS):
        assert got[r] == expected[r], f"round {r} bloom mismatch"


def test_metrics_and_results_written(spark, tmp_store):
    cfg = CrawlConfig(
        wave_size=WAVE, round0_limit=ROUND0, default_host_budget=BUDGET, seen_mode="exact"
    )
    sched = CrawlScheduler(spark, tmp_store, cfg)
    sched.run(1, seeds=build_seed_frontier(spark, N_SEEDS))
    metrics = sched.store.read(spark, "metrics", 0)
    assert metrics.agg(F.sum("scheduled")).first()[0] == WAVE
    results = sched.store.read(spark, "results", 0)
    ok = results.filter(F.col("status") == 200)
    assert ok.count() > 0
    # extracted structs are populated for 200s
    assert ok.filter(F.col("article.title").isNotNull()).count() == ok.count()


def test_retry_ladder_requeues_failed(spark, tmp_path):
    """T5: non-200 fetches re-enter with attempt+1 and linear round
    backoff, up to max_attempts; parity schedule (retry off) unchanged
    is covered by the other tests."""
    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler
    import pyspark.sql.functions as F

    def flaky_fetch(url):
        # one URL fails always; the rest succeed with a trivial page
        if "bad" in url:
            return 500, "<html><body>err</body></html>"
        return 200, "<html><body><article><p>ok body</p></article></body></html>"

    seeds = spark.createDataFrame(
        [(f"https://h{i}.x/good-{i}", i) for i in range(4)]
        + [("https://h9.x/bad-page", 9)],
        "url string, seq long",
    )
    cfg = CrawlConfig(wave_size=10, round0_limit=10, unique_hosts_round0=False,
                      default_host_budget=5, n_shards=4, total_bloom_bits=1 << 16,
                      retry_failed=True, max_attempts=3)
    sched = CrawlScheduler(spark, str(tmp_path / "s"), cfg, fetch_fn=flaky_fetch)
    sched.init_from_seeds(seeds)

    appearances = []
    for r in range(5):
        sched.run_round(r)
        wave = sched.store.read(spark, "waves", r)
        if wave.filter(F.col("url").contains("bad")).count():
            row = wave.filter(F.col("url").contains("bad")).collect()[0]
            appearances.append((r, row.attempt))
    # attempt 0 at round 0; backoff not_before=1 -> round 1 (attempt 1);
    # then not_before = 2+1 = 3 -> round 3 (attempt 2); max_attempts=3
    # stops further retries
    assert appearances == [(0, 0), (1, 1), (3, 2)]


def test_amp_static_first_race(spark, tmp_path):
    """S7: AMP candidate preferred when it yields >= amp_min_chars;
    source column + A2 per-source metrics rollup."""
    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler
    import pyspark.sql.functions as F

    big = "<html><body><article><p>" + "amp content " * 150 + "</p></article></body></html>"

    def fetchy(url):
        if url.endswith("/amp"):
            # only host h0's amp variant exists
            return (200, big) if "h0.x" in url else (404, "")
        if "amp" in url:
            return 404, ""
        return 200, "<html><body><article><p>small dynamic page body</p></article></body></html>"

    seeds = spark.createDataFrame(
        [(f"https://h{i}.x/story-{i}", i) for i in range(4)], "url string, seq long"
    )
    cfg = CrawlConfig(wave_size=10, round0_limit=10, unique_hosts_round0=False,
                      default_host_budget=5, n_shards=4, total_bloom_bits=1 << 16,
                      amp_static_first=True)
    sched = CrawlScheduler(spark, str(tmp_path / "s"), cfg, fetch_fn=fetchy)
    sched.init_from_seeds(seeds)
    sched.run_round(0)
    res = sched.store.read(spark, "results", 0)
    by_host = {r.host: r.source for r in res.select("host", "source").collect()}
    assert by_host["h0.x"] == "amp"
    assert all(v == "dynamic" for h, v in by_host.items() if h != "h0.x")
    met = sched.store.read(spark, "metrics", 0)
    agg = met.agg(F.sum("amp").alias("a"), F.sum("dynamic").alias("d")).collect()[0]
    assert (agg.a, agg.d) == (1, 3)


def test_sim_streamed_seeds_between_rounds():
    """Simulator twin of the streaming ingest (no Spark needed): a seed
    batch arriving after round 0 is canonicalized, claimed, url-ranked,
    and scheduled in round 1 under the per-host budget."""
    from horseman_article_parser_spark.datagen.frontier import seed_urls
    from horseman_article_parser_spark.plans.reference_sim import sim_crawl

    late = [f"https://streamed.example/late/{i}" for i in range(8)]
    waves = sim_crawl(seed_urls(120), 2, wave_size=30, round0_limit=30,
                      default_host_budget=2, streamed_seeds={0: late})
    assert not any("streamed.example" in u for u in waves[0])
    got = [u for u in waves[1] if "streamed.example" in u]
    # 8 arrive, budget 2 per host -> exactly the 2 lowest-url-rank ones
    assert got == ["https://streamed.example/late/0",
                   "https://streamed.example/late/1"]


def _small_crawl(spark, tmp_path, fetch_fn):
    seeds = spark.createDataFrame(
        [(f"https://h{i}.x/story-{i}", i) for i in range(4)],
        "url string, seq long",
    )
    cfg = CrawlConfig(wave_size=10, round0_limit=10, unique_hosts_round0=False,
                      default_host_budget=5, n_shards=4, total_bloom_bits=1 << 16)
    sched = CrawlScheduler(spark, str(tmp_path / "s"), cfg, fetch_fn=fetch_fn)
    sched.init_from_seeds(seeds)
    return sched


def _page(hrefs):
    anchors = "".join(
        f'<a href="{h}">l{i}</a>' if h is not None else f"<a>l{i}</a>"
        for i, h in enumerate(hrefs)
    )
    return 200, f"<html><body><article><p>body</p>{anchors}</article></body></html>"


ADVERSARIAL_HREFS = [
    None, "", "javascript:void(0)", "HTTP://Host.COM:80/x", "https://h:443/",
    "http://[::1", "/relative/path?q=1#frag", "mailto:a@b.c",
    "https://Ok.Example/a.pdf",
]


def test_fetch_extract_link_targets_match_canonicalize(spark, tmp_path):
    """The fused fetch+extract kernel emits link_targets index-aligned
    with article.links: link_targets[i] == canonicalize_url(links[i].href),
    including hrefs that canonicalize to NULL and a page over the
    1000-link cap."""
    from horseman_article_parser_spark.functions.urls import canonicalize_url
    from horseman_article_parser_spark.plans.crawl import link_targets

    pages = {
        "https://h0.x/story-0": _page(ADVERSARIAL_HREFS),
        "https://h1.x/story-1": _page([f"/p/{i}" for i in range(1005)]),
        "https://h2.x/story-2": (200, "<html><body>no links</body></html>"),
        "https://h3.x/story-3": (404, ""),
    }
    sched = _small_crawl(spark, tmp_path, lambda u: pages[u])
    wave = sched.store.read(spark, "pending", -1).withColumn("pos", F.col("seq").cast("int"))
    rows = sched._fetch_extract(wave).collect()
    assert len(rows) == 4
    n_links = {}
    for r in rows:
        links = r.article.links
        if links is None:
            assert not r.link_targets
            continue
        assert len(r.link_targets) == len(links)
        for link, target in zip(links, r.link_targets):
            assert target == canonicalize_url(link.href), link.href
        n_links[r.url] = len(links)
    assert n_links["https://h1.x/story-1"] == 1000
    h0 = next(r for r in rows if r.url == "https://h0.x/story-0")
    assert h0.link_targets[3:5] == ["http://host.com/x", "https://h/"]
    # a NULL href (never produced by the HTML extractor) maps to NULL
    assert link_targets({"links": [{"href": None, "text": "t"}]}) == [None]
    assert link_targets({"links": None}) is None


def test_results_schema_unchanged(spark, tmp_path):
    """link_targets is a kernel-internal column: the results checkpoint
    keeps the wave columns plus status, source and the article struct."""
    from horseman_article_parser_spark.operators.extract import ARTICLE_STRUCT

    page = _page(["/a", "/b"])
    sched = _small_crawl(spark, tmp_path, lambda u: page)
    sched.run_round(0)
    res = sched.store.read(spark, "results", 0)
    assert [(f.name, f.dataType.simpleString()) for f in res.schema] == [
        ("url", "string"), ("seq", "bigint"), ("host", "string"),
        ("depth", "int"), ("priority", "double"), ("attempt", "int"),
        ("not_before", "bigint"), ("pos", "int"), ("status", "int"),
        ("source", "string"), ("article", ARTICLE_STRUCT.simpleString()),
    ]


def test_run_round_has_no_arrow_eval_python(spark, tmp_path):
    """Link canonicalization runs inside the fetch+extract kernel, so no
    SQL execution of a round plans a scalar Python UDF node."""
    jss = spark._jsparkSession
    store = jss.sharedState().statusStore()

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    page = _page(["/a", "HTTP://B.x:80/"])
    sched = _small_crawl(spark, tmp_path, lambda u: page)
    mark = max((e.executionId() for e in executions()), default=-1)
    sched.run_round(0)
    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() > mark]
    assert any("MapInPandas" in p for p in plans)
    assert not [p for p in plans if "ArrowEvalPython" in p]


def test_run_round_joins_pool_when_write_raises(spark, tmp_path):
    """A failing results write propagates and leaves no checkpoint
    writer thread behind."""
    page = _page(["/a"])
    sched = _small_crawl(spark, tmp_path, lambda u: page)
    write = sched.store.write

    def failing_write(df, kind, round_no):
        if kind == "results":
            raise OSError("disk full")
        write(df, kind, round_no)

    sched.store.write = failing_write
    before = set(threading.enumerate())
    with pytest.raises(OSError, match="disk full"):
        sched.run_round(0)
    leaked = [t for t in threading.enumerate()
              if t not in before and t.name.startswith("ThreadPoolExecutor")]
    assert not leaked
