#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client driving the public
API on `local[4]`, with output checks and a traced per-layer run.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for why each exists):
  crawl_steady    `CrawlScheduler` rounds of 4 000 URLs over 200 hosts
  analytics_sf01  20-query passes over seeded sf0.1 tables, noop sink

The last stdout line is one JSON object {correct, attempted, failed,
metrics}; the lines before it print every metric by name and unit.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, and the spans go to
.perfbench_work/traces/<workload>-seed<seed>.json. Layers a workload
does not exercise report 0 in the traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import datagen
import golden
import layers
import stats

CPUS = 4
SETUP_REPS = 3  # set-ups per run (crawl seedings, query plan builds)
# analytics tables: timed passes at FULL_SF, oracle checks at CHECK_SF
# (the DuckDB oracles of langid and keywords_topk take minutes at sf0.1)
CHECK_SF, FULL_SF = 0.002, 0.1
# Arrow-kernel queries: q.<name>.kernel_s = q.<name>_s - arrow.floor_s
KERNEL_QUERIES = ["extract_title", "extract_links", "extract_images", "simhash",
                  "minhash_lsh", "langid", "text_quality", "sentiment", "keywords_topk"]
# crawl_steady: bench.py's config at half its wave, so that a run fits
# CRAWL_MIN_ROUNDS timed rounds after CRAWL_WARMUP_ROUNDS untimed ones
# (round 1 still spends 5-9% more CPU than later rounds, mostly on JIT
# compilation, and by an amount that varies run to run)
CRAWL_WAVE, CRAWL_WARMUP_ROUNDS, CRAWL_MIN_ROUNDS = 4000, 2, 2
STAGES = ["wave_select", "fetch_extract", "link_expand", "seen_claim",
          "pending_submit", "metrics_commit"]
STORE_TABLES = ["pending", "results", "waves", "metrics"]


class Run:
    """Per-invocation state: arguments, work dirs, tracer, tallies."""

    def __init__(self, args: argparse.Namespace, root: str) -> None:
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.traced = args.seconds, bool(args.trace)
        self.work = os.path.join(root, ".perfbench_work")
        self.tmp = tempfile.mkdtemp(prefix="run-", dir=self.work)
        self.tracer = layers.Tracer() if self.traced else layers.NullTracer()
        self.host = layers.HostProbe()
        self.attempted = 0
        self.failures: list[str] = []
        self.peak_rss = 0.0
        self.peak_tree: dict[int, tuple[str, float]] = {}
        self.layer: dict[str, float] = {}
        self.notes: list[str] = []

    def check(self, name: str, problems: list[str]) -> None:
        """Count one output check; record its violations as a failure."""
        self.attempted += 1
        with self.tracer.span("check", check=name, ok=not problems):
            if problems:
                self.failures.append(f"{name}: {problems[0]} ({len(problems)} total)")

    def between_ops(self) -> None:
        """Bookkeeping after each set-up step and operation, outside
        every timed interval: peak memory and a host-speed sample."""
        tree = layers.tree_peak_rss_mb()
        total = sum(mb for _name, mb in tree.values())
        if total > self.peak_rss:
            self.peak_rss, self.peak_tree = total, tree
        self.host.sample()

    def digests(self, current: dict[str, str]) -> list[str]:
        """Compare with, then extend, the digests earlier runs of this
        workload and seed recorded in this checkout."""
        path = os.path.join(self.work, "digests", f"{self.workload}-seed{self.seed}.json")
        recorded = {}
        if os.path.exists(path):
            with open(path) as fh:
                recorded = json.load(fh)
        problems = checks.digest_violations(recorded, current)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**current, **recorded}, fh, indent=0)
        return problems


# ------------------------------------------------------------- session

class Clock:
    """Wall seconds and process-tree CPU seconds of one interval, or the
    sum of several (`add`)."""

    wall = cpu = 0.0

    def add(self, other: "Clock") -> None:
        self.wall += other.wall
        self.cpu += other.cpu

    def __enter__(self) -> "Clock":
        self.t0, self.c0 = time.monotonic(), layers.tree_cpu_s()
        return self

    def __exit__(self, *exc) -> None:
        self.cpu = layers.tree_cpu_s() - self.c0
        self.wall = time.monotonic() - self.t0


def start_session(run: Run):
    """get_spark at local[CPUS] with a 2 GB driver heap and every
    Spark/JVM temporary directory under the run's own; returns
    (session, Clock of its start)."""
    from horseman_article_parser_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData"
    with run.tracer.span("session_start"), Clock() as clock:
        spark = get_spark(f"perfbench-{run.workload}", master=f"local[{CPUS}]", extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": run.tmp,
            "spark.sql.warehouse.dir": os.path.join(run.tmp, "warehouse"),
        })
        spark.sparkContext.setLogLevel("ERROR")
    return spark, clock


def stop_session() -> None:
    """Stop Spark, then the JVM gateway process, and wait for it to
    exit (its Python workers end with it). Safe to call twice."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway, SparkContext._gateway = SparkContext._gateway, None
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def op_metrics(ops: list[dict], scale: float) -> dict[str, float]:
    """Medians over the timed ops of process-tree CPU seconds per op and
    of items (URLs scheduled, queries run) per CPU second, scaled to the
    reference host speed: the end-to-end pair. Unscaled CPU and wall
    seconds are per-layer."""
    if not ops:
        return {}
    cpu = stats.median([op["cpu"] for op in ops])
    return {"round_ref_cpu_s_p50": cpu * scale,
            "throughput_per_ref_cpu_s":
                stats.median([op["items"] / op["cpu"] for op in ops]) / scale,
            "cpu.round_s_p50": cpu,
            "wall.round_s_p50": stats.median([op["wall"] for op in ops]),
            "wall.throughput_per_s": stats.median([op["items"] / op["wall"] for op in ops])}


def setup_metrics(session: Clock, reps: list[Clock], scale: float) -> dict[str, float]:
    """setup_s: process-tree CPU seconds of the session start plus the
    median set-up rep, scaled to the reference host speed; unscaled CPU
    and wall seconds are per-layer."""
    cpu = session.cpu + stats.median([c.cpu for c in reps])
    return {"setup_s": cpu * scale, "cpu.setup_s": cpu,
            "wall.setup_s": session.wall + stats.median([c.wall for c in reps])}


def finish_metrics(run: Run, setup: dict[str, float], ops: dict[str, float]) -> dict[str, float]:
    """Move the unscaled and host metrics to the per-layer set; return
    the end-to-end ones."""
    run.layer["host.probe_us"] = run.host.median_s() * 1e6
    out = {}
    for k, v in {**setup, **ops}.items():
        (run.layer if k.startswith(("cpu.", "wall.")) else out)[k] = v
    return out


def timed_loop(run: Run, op, min_ops: int = 1) -> list[dict]:
    """Closed loop: call op(i) back to back until `seconds` of op time
    have passed and at least min_ops ops ran; each op returns a dict
    with at least 'wall', or None when it failed."""
    out, spent = [], 0.0
    while spent < run.seconds or len(out) < min_ops:
        res = op(len(out))
        if res is None:
            break
        out.append(res)
        spent += res["wall"]
        run.between_ops()
    return out


# --------------------------------------------------------------- crawl

def crawl_config():
    """bench.py's crawl configuration at CRAWL_WAVE, with its
    seeds-per-wave ratio."""
    import bench

    return (bench._crawl_cfg(CRAWL_WAVE),
            bench.CRAWL_SEEDS * CRAWL_WAVE // bench.CRAWL_WAVE)


def read_round(store: str, kind: str, round_no: int, columns: list[str]):
    """One round of a crawl store table (plans.checkpoint layout) as Arrow."""
    return pq.read_table(os.path.join(store, kind, f"round={round_no}"), columns=columns)


def crawl_steady(run: Run) -> dict:
    from horseman_article_parser_spark.datagen.frontier import build_seed_frontier
    from horseman_article_parser_spark.plans.crawl import CrawlScheduler

    cfg, n_seeds = crawl_config()
    spark, session = start_session(run)
    run.between_ops()
    counters = layers.SparkCounters(spark) if run.traced else None
    seeding, sched, store = [], None, None
    for rep in range(SETUP_REPS):
        store = os.path.join(run.tmp, f"store{rep}")
        with run.tracer.span("seed", rep=rep, seeds=n_seeds), Clock() as clock:
            sched = CrawlScheduler(spark, store, cfg)
            sched.init_from_seeds(build_seed_frontier(spark, n_seeds, cfg.n_hosts, run.seed))
        seeding.append(clock)
        run.between_ops()
        if rep < SETUP_REPS - 1:
            shutil.rmtree(store)

    rounds: list[dict] = []

    def one_round(label: str) -> dict | None:
        r = len(rounds)
        tb = time.monotonic()
        mark = counters.begin(f"round-{r}") if counters else None
        snap = stats.snapshot(store) if run.traced else None
        pre_s = time.monotonic() - tb
        run.attempted += 1
        with run.tracer.span("run_round", round=r, phase=label) as sp:
            try:
                with Clock() as clock:
                    m = sched.run_round(r)
            except Exception:
                run.failures.append(f"run_round({r}) raised:\n{traceback.format_exc()}")
                return None
        rec = {"round": r, "wall": clock.wall, "cpu": clock.cpu, "items": m["scheduled"],
               "timings": m["timings"]}
        if run.traced:
            run.tracer.program_spans(sp, m["timings"])
            tb = time.monotonic()
            rec["counters"] = counters.end(mark)
            rec["bytes"] = stats.bytes_written(snap, stats.snapshot(store))
            rec["trace_s"] = pre_s + time.monotonic() - tb
        rounds.append(rec)
        return rec

    warm: list[dict] = []
    with run.tracer.span("warmup"):
        while len(warm) < CRAWL_WARMUP_ROUNDS and (rec := one_round("warmup")):
            warm.append(rec)
            run.between_ops()
    warmed = len(warm) == CRAWL_WARMUP_ROUNDS
    timed = timed_loop(run, lambda _i: one_round("timed"), CRAWL_MIN_ROUNDS) if warmed else []
    crawl_checks(run, store, cfg, n_seeds, rounds)
    if run.traced:
        crawl_layers(run, store, timed)
        with run.tracer.span("microbench"):
            run.layer.update(layers.microbenches(run.seed))
    stop_session()

    scale = run.host.scale()
    ops, setup = op_metrics(timed, scale), setup_metrics(session, seeding, scale)
    run.notes += [
        f"session start {session.wall:.3f} s wall, {session.cpu:.2f} s CPU; seedings "
        f"{[round(c.wall, 3) for c in seeding]} s wall, {[round(c.cpu, 2) for c in seeding]} s CPU",
        f"warm-up rounds {[round(w['wall'], 3) for w in warm]} s wall" if warmed
        else "a warm-up round failed",
        f"timed rounds n={len(timed)}: {[round(r['wall'], 3) for r in timed]} s wall, "
        f"{[round(r['cpu'], 2) for r in timed]} s CPU",
        f"crawl_urls_per_s {ops.get('wall.throughput_per_s', 0.0):.1f} 1/s wall "
        "(= wall.throughput_per_s)",
        "analytics_pass_s: not applicable (no query passes)",
        "checkpoint_bytes_per_url: per-layer, in the --trace 1 run",
        f"host probe {run.host.median_s() * 1e6:.0f} us (n={len(run.host.samples)}), "
        f"CPU scale to reference speed {scale:.4f}",
    ]
    return finish_metrics(run, setup, ops)


def crawl_checks(run: Run, store: str, cfg, n_seeds: int, rounds: list[dict]) -> None:
    """Round-0 order against the reference simulator, wave invariants,
    results/metrics consistency and the cross-run wave digest."""
    from horseman_article_parser_spark.datagen.frontier import seed_urls

    waves, pending_before, digests = {}, {}, {}
    for rec in rounds:
        r = rec["round"]
        waves[r] = read_round(store, "waves", r, checks.WAVE_COLS).to_pylist()
        pending_before[r] = set(read_round(store, "pending", r - 1, ["url"])["url"].to_pylist())
        digests[f"round{r}"] = checks.wave_digest(waves[r])
    if 0 in waves:
        want = checks.expected_wave0(seed_urls(n_seeds, cfg.n_hosts, run.seed),
                                     cfg.round0_limit, cfg.wave_size, cfg.default_host_budget)
        got = [row["url"] for row in sorted(waves[0], key=lambda row: row["pos"])]
        run.check("wave0_matches_reference", [] if got == want else [
            f"round-0 wave differs from reference_sim ({len(got)} vs {len(want)} URLs)"])
    run.check("wave_invariants", checks.wave_violations(waves, pending_before,
                                                        cfg.default_host_budget))
    for rec in rounds:
        r = rec["round"]
        urls = sorted(row["url"] for row in waves[r])
        res = sorted(read_round(store, "results", r, ["url"])["url"].to_pylist())
        sched = sum(read_round(store, "metrics", r, ["scheduled"])["scheduled"].to_pylist())
        run.check(f"round{r}_results_metrics", [p for p in [
            None if res == urls else f"results hold {len(res)} URLs, wave {len(urls)}",
            None if sched == len(urls) == rec["items"] else
            f"metrics scheduled {sched}, wave {len(urls)}, run_round {rec['items']}",
        ] if p])
    run.check("wave_digest_repeats", run.digests(digests))


def crawl_layers(run: Run, store: str, timed: list[dict]) -> None:
    """Per-layer medians over the timed rounds, from the program's stage
    timings, the Spark counters and the store on disk."""
    per_round: list[dict[str, float]] = []
    for rec in timed:
        r = rec["round"]
        vals = {f"stage.{s}_s": float(rec["timings"].get(s, 0.0)) for s in STAGES}
        vals["stage.coverage"] = sum(rec["timings"].values()) / rec["wall"]
        vals.update(rec["counters"])
        b = rec["bytes"]
        for t in STORE_TABLES:
            vals[f"store.{t}_bytes"] = float(b.get(t, 0))
        vals["store.seen_bytes"] = float(b.get("bloom", 0))
        vals["checkpoint_bytes_per_url"] = sum(b.values()) / max(1, rec["items"])
        pend_prev = read_round(store, "pending", r - 1, ["not_before"])
        pend_rows = read_round(store, "pending", r, ["url"]).num_rows
        wave_hosts = read_round(store, "waves", r, ["host"])["host"].to_pylist()
        res = read_round(store, "results", r, ["status", "article"])
        links = pc.list_value_length(pc.struct_field(res["article"], "links"))
        links_in = pc.sum(pc.if_else(pc.equal(res["status"], 200), links, 0)).as_py() or 0
        new_out = pend_rows - (pend_prev.num_rows - len(wave_hosts))
        counts = {}
        for h in wave_hosts:
            counts[h] = counts.get(h, 0) + 1
        fill, k = bloom_fill(store, r + 1)
        vals.update({
            "store.pending_rows": float(pend_rows),
            "politeness.eligible_rows": float(sum(
                1 for nb in pend_prev["not_before"].to_pylist() if nb <= r)),
            "politeness.wave_rows": float(len(wave_hosts)),
            "politeness.hosts_in_wave": float(len(counts)),
            "politeness.host_skew": max(counts.values()) / stats.median(list(counts.values()))
            if counts else 0.0,
            "seen.links_in": float(links_in),
            "seen.new_out": float(new_out),
            "seen.new_ratio": new_out / links_in if links_in else 0.0,
            "seen.bloom_fill": fill,
            "seen.bloom_fpr_est": fill ** k,
            "trace.overhead_s": rec["trace_s"],
        })
        per_round.append(vals)
    if per_round:
        run.layer.update({k: stats.median([v[k] for v in per_round]) for k in per_round[0]})
        run.notes.append("stage seconds / round wall per timed round: "
                         f"{[round(v['stage.coverage'], 4) for v in per_round]}")


def bloom_fill(store: str, version: int) -> tuple[float, int]:
    """Share of set bits over all shard bitmaps of a bloom manifest
    version, and its hash count k (fill**k estimates the FPR)."""
    import numpy as np

    path = os.path.join(store, "bloom", f"manifest_v{version}.json")
    with open(path) as fh:
        man = json.load(fh)
    ones = 0
    for shard_path in man["shards"].values():
        bits = np.unpackbits(np.fromfile(shard_path, dtype=np.uint8))
        ones += int(bits[: man["bits_per_shard"]].sum())
    return ones / (man["bits_per_shard"] * man["n_shards"]), int(man["k"])


# ----------------------------------------------------------- analytics

def analytics_sf01(run: Run) -> dict:
    import bench

    import __spark_entry__ as E
    from horseman_article_parser_spark.operators.dedup import release_cached

    t0 = time.monotonic()
    with run.tracer.span("datagen"):
        full = datagen.write_tables(os.path.join(run.tmp, "sf0.1"), FULL_SF, run.seed)
        small = datagen.write_tables(os.path.join(run.tmp, "check"), CHECK_SF, run.seed)
    run.notes.append(f"datagen_s {time.monotonic() - t0:.3f} s (benchmark-side, not in setup_s)")
    spark, session = start_session(run)
    run.between_ops()
    counters = layers.SparkCounters(spark) if run.traced else None
    qs = E.queries()
    names = list(bench.HEADLINE)

    with run.tracer.span("check_pass"):
        analytics_checks(run, spark, qs, names, small)
    run.between_ops()

    # set-up is planning the 20 queries over the full-size tables: two
    # build-only reps, then the builds of the first timed pass
    builds: list[Clock] = []
    for rep in range(SETUP_REPS - 1):
        with run.tracer.span("plan_build", rep=rep), Clock() as clock:
            for name in names:
                qs[name](spark, full)
        builds.append(clock)
        release_cached()
        run.between_ops()

    def one_pass(p: int) -> dict:
        order = names[:]
        random.Random(run.seed * 1000 + p).shuffle(order)
        q_s, cpu, build = {}, 0.0, Clock()
        tb = time.monotonic()
        mark = counters.begin(f"pass-{p}") if counters else None
        pre_s = time.monotonic() - tb
        with run.tracer.span("pass", index=p):
            for name in order:
                run.attempted += 1
                try:
                    with run.tracer.span("query.build", query=name), Clock() as clock:
                        df = qs[name](spark, full)
                    build.add(clock)
                    with run.tracer.span("query.execute", query=name), Clock() as clock:
                        df.write.format("noop").mode("overwrite").save()
                    q_s[name] = clock.wall
                    cpu += clock.cpu
                except Exception:
                    run.failures.append(f"{name} raised:\n{traceback.format_exc()}")
                finally:
                    release_cached()
                    # a pass holds 20 short operations: sample the host
                    # between them too, so the scale follows the pass
                    run.host.sample(5)
        if p == 0:
            builds.append(build)
        rec = {"wall": sum(q_s.values()), "cpu": cpu, "items": len(q_s), "q": q_s}
        if counters:
            tb = time.monotonic()
            rec["counters"] = counters.end(mark)
            rec["trace_s"] = pre_s + time.monotonic() - tb
        return rec

    passes = timed_loop(run, one_pass)
    if run.traced:
        floor = arrow_floor(run, spark, full)
        per_q = {n: stats.median([p["q"][n] for p in passes if n in p["q"]]) for n in names}
        run.layer.update({f"q.{n}_s": v for n, v in per_q.items()})
        run.layer.update({f"q.{n}.kernel_s": per_q[n] - floor for n in KERNEL_QUERIES})
        run.layer["arrow.floor_s"] = floor
        for key in passes[0]["counters"]:
            run.layer[key] = stats.median([p["counters"][key] for p in passes])
        run.layer["trace.overhead_s"] = stats.median([p["trace_s"] for p in passes])
        with run.tracer.span("microbench"):
            run.layer.update(layers.microbenches(run.seed))
    stop_session()

    scale = run.host.scale()
    ops, setup = op_metrics(passes, scale), setup_metrics(session, builds, scale)
    run.notes += [
        f"session start {session.wall:.3f} s wall, {session.cpu:.2f} s CPU; plan builds "
        f"{[round(c.wall, 3) for c in builds]} s wall, {[round(c.cpu, 2) for c in builds]} s CPU",
        f"timed passes n={len(passes)}: {[round(p['wall'], 3) for p in passes]} s wall, "
        f"{[round(p['cpu'], 2) for p in passes]} s CPU",
        f"analytics_pass_s {ops.get('wall.round_s_p50', 0.0):.3f} s wall (= wall.round_s_p50)",
        "crawl_urls_per_s, checkpoint_bytes_per_url: not applicable (no crawl)",
        f"host probe {run.host.median_s() * 1e6:.0f} us (n={len(run.host.samples)}), "
        f"CPU scale to reference speed {scale:.4f}",
    ]
    return finish_metrics(run, setup, ops)


def analytics_checks(run: Run, spark, qs, names: list[str], small: str) -> None:
    """Untimed warm-up pass over the small CHECK_SF tables: collect every
    query and compare it with its DuckDB oracle, normalised as
    scripts/oracle_parity.py does; queries in golden.SLOW_ORACLES are
    compared with their recorded oracle rows instead."""
    import duckdb

    import __spark_entry__ as E
    from horseman_article_parser_spark.operators.dedup import release_cached
    from oracle_parity import ALLOWED_ORACLE_TYPES, df_rows

    oracles = E.oracle_sql()
    gold = golden.load()
    gold_dir = datagen.write_tables(os.path.join(run.tmp, "golden"), gold["sf"], gold["seed"])
    con = duckdb.connect(config={"threads": CPUS})
    for t in E.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{small}/{t}.parquet'")

    def spark_rows(name: str, data_dir: str):
        with run.tracer.span("query.collect", query=name):
            df = qs[name](spark, data_dir)
            rows = [tuple(r) for r in df.collect()]
        release_cached()
        return df_rows([c.lower() for c in df.columns], rows)

    def oracle_rows(name: str):
        if name in gold["queries"]:
            g = gold["queries"][name]
            return (g["columns"], [tuple(r) for r in g["rows"]]), []
        with run.tracer.span("oracle", query=name):
            rel = con.sql(oracles[name])
            bad = [f"oracle column type {t}" for t in rel.types
                   if str(t) not in ALLOWED_ORACLE_TYPES]
            return df_rows([c.lower() for c in rel.columns], rel.fetchall()), bad

    digests: dict[str, str] = {}
    for name in names:
        try:
            (gc, gr) = spark_rows(name, gold_dir if name in gold["queries"] else small)
            (wc, wr), problems = oracle_rows(name)
        except Exception:
            run.check(f"{name}_matches_oracle", [f"raised {traceback.format_exc()}"])
            continue
        digests[name] = checks.rows_digest(gr)
        if gc != wc:
            problems.append(f"columns {gc} vs oracle {wc}")
        elif len(gr) != len(wr):
            problems.append(f"{len(gr)} rows vs oracle {len(wr)}")
        else:
            diff = sum(1 for a, b in zip(gr, wr) if a != b)
            if diff:
                problems.append(f"{diff}/{len(gr)} rows differ from oracle")
        run.check(f"{name}_matches_oracle", problems)
    con.close()
    run.check("golden_tables_reproduce", [] if golden.documents_digest(gold_dir)
              == gold["documents_sha256"] else ["generator no longer reproduces golden.json's tables"])
    run.check("result_digests_repeat", run.digests(digests))


def arrow_floor(run: Run, spark, full: str, reps: int = 3) -> float:
    """Median noop-sink wall of an identity mapInPandas over the same
    `documents` scan the kernel queries read: the Arrow boundary cost."""
    import __spark_entry__ as E

    def identity(batches):
        yield from batches

    walls = []
    for rep in range(reps):
        with run.tracer.span("arrow_floor", rep=rep):
            docs = E._load(spark, full, "documents")
            t0 = time.monotonic()
            docs.mapInPandas(identity, schema=docs.schema).write.format("noop") \
                .mode("overwrite").save()
            walls.append(time.monotonic() - t0)
    return stats.median(walls)


# ---------------------------------------------------------------- main

WORKLOADS = {"crawl_steady": crawl_steady, "analytics_sf01": analytics_sf01}


def declared_metrics(root: str, kind: str) -> dict[str, str]:
    """{name: unit} of BENCHMARK.json's `end_to_end` or `per_layer` list."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    kinds = ["end_to_end", "per_layer"]
    needed = ["__spark_entry__.py", "bench.py", "horseman_article_parser_spark",
              "scripts/oracle_parity.py", "BENCHMARK.json"]
    missing = [p for p in needed if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(root, ".perfbench_work"), exist_ok=True)
    sys.path[:0] = [root, os.path.join(root, "scripts")]
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    run = Run(args, root)
    # keep every temporary file of this process and of the JVM it
    # starts inside the checkout
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = run.tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData"
    tempfile.tempdir = run.tmp
    try:
        end_to_end = WORKLOADS[run.workload](run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_session()
        run.tracer.write(os.path.join(run.work, "traces", f"{run.workload}-seed{run.seed}.json"))
        shutil.rmtree(run.tmp, ignore_errors=True)

    failed = len(run.failures)
    attempted = max(1, run.attempted)
    run.layer["op_error_rate"] = failed / attempted
    end_to_end["peak_rss_mb"] = run.peak_rss
    values = run.layer if run.traced else end_to_end
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": unit}
               for n, unit in declared_metrics(root, kinds[run.traced]).items()}
    print(f"perfbench {run.workload} seed={run.seed} trace={int(run.traced)} "
          f"checks/ops attempted={attempted} failed={failed} "
          f"op_error_rate={failed / attempted:.4f}")
    run.notes.append("peak tree MB " + ", ".join(
        f"{name}:{mb:.0f}" for name, mb in sorted(run.peak_tree.values(), key=lambda v: -v[1])))
    for note in run.notes:
        print(f"  {note}")
    for f in run.failures:
        print(f"  FAILED {f}")
    if not run.traced:  # the unscaled figures every run measures
        for name, unit in declared_metrics(root, "per_layer").items():
            if name.startswith(("cpu.", "wall.", "host.")) and name in run.layer:
                print(f"  {name:34s} {run.layer[name]:.6g} {unit} (per-layer)")
    for name, m in metrics.items():
        print(f"  {name:34s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
