"""The ``crawl_polite`` workload: a budget-capped crawl with a snapshot
after every round, killed mid-round and drained by a resumed engine.

Inputs come from the seed only through the host names
(``SiteConfig.hosts``): URL strings, hashes and partition placement
change with the seed, page and round counts do not.
"""

from __future__ import annotations

import os
import random
import shutil
import string
import time

from pyspark.sql import functions as F

from smart_crawler_spark.crawler.engine import CrawlEngine, EngineConfig
from smart_crawler_spark.crawler.extract import (
    extract_links,
    extract_records,
    fetch_batch_resolved,
)
from smart_crawler_spark.crawler.oracle import crawl_all
from smart_crawler_spark.datagen.site import (
    SiteConfig,
    all_rows,
    generate_site_pages,
    target_tsv,
)
from smart_crawler_spark.frontier.canonical import url_seen_key
from smart_crawler_spark.frontier.dedup import SeenFilter
from smart_crawler_spark.frontier.queue import pick_batch
from smart_crawler_spark.sources.targets import load_target_tsv

from probes import dir_bytes

# 8 hosts x (home + 2 dirs + 16 details + about) = 160 pages. Rounds:
# home, dirs+about, details (killed after its in-flight snapshot), then
# the resumed engine re-dispatches the in-flight details and drains.
SITE = dict(n_hosts=8, dirs=2, chain=1, details_per_page=8, n_images=100)
BUDGET = 16
CRASH_AT = 3
ROUNDS = 4  # rounds the resumed leg reports, crash round included


def site_config(seed: int) -> SiteConfig:
    rng = random.Random(seed)
    words = ["".join(rng.choices(string.ascii_lowercase, k=6)) for _ in range(2)]
    hosts = [f"{words[0]}{k}.{words[1]}.test" for k in range(SITE["n_hosts"])]
    return SiteConfig(**SITE, hosts=hosts)


class CrawlPolite:
    name = "crawl_polite"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.cfg = site_config(seed)
        self.workdir = workdir
        self.seeds = [f"http://{self.cfg.host(k)}/" for k in range(self.cfg.n_hosts)]
        self._reps = 0

    # -- inputs ----------------------------------------------------------
    def setup(self) -> float:
        """Generate and checkpoint the site, parse the model; seconds."""
        t0 = time.monotonic()
        self.pages = generate_site_pages(self.spark, self.cfg).localCheckpoint()
        n = self.pages.count()
        self.model = load_target_tsv(target_tsv(self.cfg))
        secs = time.monotonic() - t0
        if n != self.cfg.total_pages():
            raise RuntimeError(f"site has {n} pages, want {self.cfg.total_pages()}")
        return secs

    def prepare_check(self) -> None:
        """The sequential oracle's seen set and records (untimed)."""
        oracle = crawl_all(all_rows(self.cfg), self.model, self.seeds)
        keys = sorted({k for o in oracle.values() for k in o.seen})
        self.want_seen = {
            r["h"]
            for r in self.spark.createDataFrame([(k,) for k in keys], "k string")
            .select(F.xxhash64("k").alias("h"))
            .collect()
        }
        self.want_records = {
            (rec["url"], rec["page_class"], tuple(rec["fields"]))
            for o in oracle.values()
            for rec in o.records
        }

    # -- one run ---------------------------------------------------------
    def _engine(self, wd: str, **kw) -> CrawlEngine:
        cfg = EngineConfig(budget_per_host=BUDGET, checkpoint_every=1, **kw)
        return CrawlEngine(self.spark, self.pages, self.model, wd, cfg)

    def run(self, tracer=None) -> dict:
        """Seeds -> killed at CRASH_AT -> resumed -> drained."""
        self._reps += 1
        wd = os.path.join(self.workdir, f"rep{self._reps}")
        t0 = time.monotonic()
        eng1 = self._engine(wd, crash_at_round=CRASH_AT)
        if tracer:
            _wrap_checkpoint(tracer, eng1)
        r1 = eng1.run(self.seeds)
        t1 = time.monotonic()
        eng2 = self._engine(wd)
        if tracer:
            _wrap_checkpoint(tracer, eng2)
        r2 = eng2.run(resume=True)
        t2 = time.monotonic()
        metrics = r1.metrics + r2.metrics
        out = {
            "wall_s": t2 - t0,
            "resume_s": t2 - t1,
            "steps_s": [m["sec_fetch"] + m["sec"] for m in metrics],
            "round_metrics": metrics,
            "ok": self._check(r1, r2),
            "disk_bytes": dir_bytes(wd),
        }
        shutil.rmtree(wd, ignore_errors=True)
        return out

    def _check(self, r1, r2) -> bool:
        if r1.rounds != CRASH_AT or r2.rounds != ROUNDS:
            return False
        seen = {r["url_hash"] for r in r2.seen.collect()}
        records = {
            (r["url"], r["page_class"], tuple(r["fields"]))
            for r in r2.records.collect()
        }
        return (
            seen == self.want_seen
            and records == self.want_records
            and r2.frontier.count() == 0
        )

    # -- per-layer -------------------------------------------------------
    def layers(self, run: dict, tracer) -> dict:
        """Engine phase split of a traced run plus its checkpoint spans."""
        ms = run["round_metrics"]
        fetch = sum(m["sec_fetch"] for m in ms)
        sinks = sum(m["sec_sinks"] for m in ms)
        state = sum(m["sec_state"] for m in ms)
        between = run["wall_s"] - sum(run["steps_s"])
        writes = tracer.named("checkpoint.write")
        # a completed round's first write is its in-flight snapshot, which
        # the engine times inside the sinks phase; every other write (the
        # post-round ones, the killed round's) falls between phases
        completed = {m["round"] for m in ms}
        inside, outside = set(), 0.0
        for w in writes:
            if w["round"] in completed and w["round"] not in inside:
                inside.add(w["round"])
            else:
                outside += w["end"] - w["start"]
        latest = tracer.total("checkpoint.latest")
        resume_frontier = tracer.total("checkpoint.resume_frontier")
        return {
            "engine.fetch_s": fetch,
            "engine.sinks_s": sinks,
            "engine.state_s": state,
            "engine.between_s": between,
            "engine.resume_s": run["resume_s"],
            "engine.rounds": len(ms),
            "engine.disk_mb": run["disk_bytes"] / 2**20,
            "checkpoint.writes": len(writes),
            "checkpoint.write_s": tracer.total("checkpoint.write"),
            "checkpoint.bytes": sum(w.get("bytes", 0) for w in writes),
            "checkpoint.latest_s": latest,
            "checkpoint.resume_frontier_s": resume_frontier,
            "unattributed_s": between - outside - latest - resume_frontier,
        }

    def replay(self, tracer) -> dict:
        """Run two rounds, then time round 3's public calls on the state
        they return, each forced by an eager checkpoint and a count."""
        wd = os.path.join(self.workdir, "replay")
        eng = CrawlEngine(
            self.spark, self.pages, self.model, wd,
            EngineConfig(budget_per_host=BUDGET, max_rounds=2),
        )
        res = eng.run(self.seeds)
        seen = SeenFilter(self.spark, use_bloom=False)
        seen.add(res.seen.select("url_hash"))
        seen.materialize()

        def timed(name, make):
            with tracer.span(name):
                df = make().localCheckpoint(eager=True)
                return df, df.count()

        picked, _ = timed("queue.pick_batch", lambda: pick_batch(res.frontier, BUDGET))
        fetched, _ = timed(
            "extract.fetch_batch_resolved",
            lambda: fetch_batch_resolved(picked, eng.site_pages, 1),
        )
        ok = fetched.filter("fetch_ok")
        links, n_links = timed(
            "extract.extract_links",
            lambda: extract_links(ok, self.model.class_links_df(self.spark)),
        )
        timed(
            "extract.extract_records",
            lambda: extract_records(ok, self.model.data_links_df(self.spark)),
        )
        cand = links.withColumn(
            "url_hash", url_seen_key(F.col("url"), F.col("form_params"))
        )
        _, n_new = timed("dedup.filter_new", lambda: seen.filter_new(cand))
        shutil.rmtree(wd, ignore_errors=True)
        return {
            "queue.pick_s": tracer.total("queue.pick_batch"),
            "extract.fetch_s": tracer.total("extract.fetch_batch_resolved"),
            "extract.links_s": tracer.total("extract.extract_links"),
            "extract.records_s": tracer.total("extract.extract_records"),
            "dedup.filter_new_s": tracer.total("dedup.filter_new"),
            "dedup.new_ratio": n_new / n_links if n_links else 0.0,
        }


def _wrap_checkpoint(tracer, eng: CrawlEngine) -> None:
    """Span the engine instance's public checkpoint calls; a write also
    records the bytes of the snapshot version it committed."""
    ck = eng.checkpoint
    tracer.wrap(ck, "latest", "checkpoint.latest")
    tracer.wrap(ck, "resume_frontier", "checkpoint.resume_frontier")
    write = ck.write

    def sized_write(rnd, *a, **kw):
        with tracer.span("checkpoint.write") as rec:
            rec["round"] = rnd
            write(rnd, *a, **kw)
        d = os.path.join(ck.root, f"round={rnd}")
        versions = [n for n in os.listdir(d) if n.startswith("v=")]
        newest = max(versions, key=lambda n: int(n.split("=", 1)[1]))
        rec["bytes"] = dir_bytes(os.path.join(d, newest))

    ck.write = sized_write
