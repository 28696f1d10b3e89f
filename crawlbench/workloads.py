"""The benchmark's workloads. ``frontier_fresh`` is defined here;
``image_dedup`` is in image_workload.py.

``frontier_fresh``: a bootstrapped frontier crawled one
``CrawlEngine.run_epoch`` at a time. Why (sizes and steadiness are in
README.md): the write path carries the epoch. 39 of each feed's 40
entries are image URLs seen nowhere else, so the seen filter's Bloom
answers "new" for them and the write path follows: the dense-seq ``enqueue`` of discoveries, the
cuckoo hot tier, a merge-on-read delta that grows by batch + discoveries,
and a ``compact_deltas`` cycle every epoch. The first entry of each feed
re-states a queued URL, so the exact backstop behind Bloom positives
stays on the path at 1/40 of the candidates.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import inputs
from pyspark.sql import functions as F
from podcast_plow_spark.crawl.engine import CrawlConfig, CrawlEngine
from podcast_plow_spark.crawl.oracle import sequential_crawl
from podcast_plow_spark.sources.snapshots import SnapshotStore

#: the frontier the benchmark writes: seed count, hosts, feed share
FRONTIER = {
    "n_urls": 60_000,
    "n_image_hosts": 200,
    "n_feed_hosts": 64,
    "feed_every": 40,
    "entries_per_feed": 40,
    "hot_frac": 0.1,
    "seen_per_feed": 1,
}
#: batch 2500 = ~62 feeds (2480 discoveries) + ~2440 images per epoch; the
#: hot host's ~250 rows per batch pass the salting threshold. Compaction
#: runs every epoch, so the warm-up epoch takes the paths a measured epoch
#: does. The Bloom folds every second epoch; in between, insertions go to
#: the cuckoo hot tier, which the first measured epoch probes and grows.
ENGINE = {
    "batch_size": 2500,
    "per_host_cap": 400,
    "num_partitions": 8,
    "salt_hot_batch_threshold": 128,
    "delta_compact_rows": 2500,
    "bloom_fold_epochs": 2,
}
#: epochs per run, warm-up included. Each epoch drains a batch and adds
#: ~2 420 new rows, so the queue stays near 60 000: below
#: dequeue_batch_polite's 100 000-row cutoff, so the dequeue takes its
#: exact path (README.md says why the frontier is not larger).
MAX_EPOCHS = 20
FIXED_NOW = dt.datetime(2024, 1, 1)


def _fixed_clock() -> dt.datetime:
    return FIXED_NOW


class FrontierWorkload:
    KIND = "frontier"

    def __init__(self, run_dir: str, seed: int):
        self.seed = seed
        self.fixtures = os.path.join(run_dir, "fixtures")
        self.store_root = os.path.join(run_dir, "store")
        self.engine: CrawlEngine | None = None
        self.epochs = 0
        self.oracle_s = 0.0
        self.input_info: dict = {}
        #: per measured epoch: rows dequeued, feeds, entries parsed,
        #: candidates reaching the seen filter, salted hosts
        self.epoch_stats: dict[int, dict] = {}

    def sizes(self) -> dict:
        return {**FRONTIER, **ENGINE, **self.input_info, "max_epochs": MAX_EPOCHS, "epochs_run": self.epochs}

    def generate(self, spark) -> None:
        self.input_info = inputs.frontier_fixtures(self.fixtures, self.seed, **FRONTIER)

    def setup(self, spark) -> None:
        cfg = CrawlConfig(clock=_fixed_clock, **ENGINE)
        self.engine = CrawlEngine(spark, SnapshotStore(self.store_root), self.fixtures, config=cfg)
        self.engine.bootstrap(os.path.join(self.fixtures, "feeds.txt"))
        self.op()  # warm-up epoch, timed as set-up

    def has_next(self) -> bool:
        return self.epochs < MAX_EPOCHS

    def op(self) -> None:
        if not self.engine.run_epoch():
            raise RuntimeError("frontier ran out of runnable URLs")
        self.epochs += 1

    # -- verification ------------------------------------------------------

    def check(self, n_ops: int) -> dict:
        """Compare crawl order, URL-seen set and fetched image ids with the
        sequential oracle over the same inputs and epoch count; an epoch
        whose slice of the crawl order differs counts as a failed op."""
        eng = self.engine
        cfg = eng.cfg
        t = time.perf_counter()
        oracle = sequential_crawl(
            self.fixtures,
            user_agent=cfg.user_agent,
            batch_size=cfg.batch_size,
            per_host_cap=cfg.per_host_cap,
            max_epochs=self.epochs,
        )
        self.oracle_s = time.perf_counter() - t

        log = eng.store.read_table(eng.spark, "crawl_log").orderBy("epoch", "crawl_rank")
        rows = log.select("epoch", "url_canon", "host", "kind").collect()
        errors: list[str] = []
        order = [r["url_canon"] for r in rows]
        if order != oracle.crawl_order:
            errors.append(f"crawl order differs ({len(order)} vs {len(oracle.crawl_order)} URLs)")
        if eng.seen_set() != oracle.seen:
            errors.append("URL-seen set differs")
        if eng.fetched_image_ids() != oracle.fetched_images:
            errors.append("fetched image ids differ")

        by_epoch: dict[int, list] = {}
        for r in rows:
            by_epoch.setdefault(int(r["epoch"]), []).append(r)
        measured = range(self.epochs - n_ops + 1, self.epochs + 1)
        # candidates that reached the seen filter, as the engine records
        # them per epoch (lineage.urls_in sums the filter's probed rows)
        lineage = eng.store.read_table(eng.spark, "lineage")
        cands_by_epoch = {
            int(r["batch_epoch"]): int(r["n"])
            for r in lineage.groupBy("batch_epoch").agg(F.sum("urls_in").alias("n")).collect()
        }
        failed_ops = 0
        offset = 0
        items = 0
        for epoch in sorted(by_epoch):
            ers = by_epoch[epoch]
            urls = [r["url_canon"] for r in ers]
            ok = urls == oracle.crawl_order[offset : offset + len(urls)]
            offset += len(urls)
            if epoch not in measured:
                continue
            failed_ops += not ok
            feeds = sum(1 for r in ers if r["kind"] == "feed")
            cands = cands_by_epoch.get(epoch, 0)
            per_host: dict[str, int] = {}
            for r in ers:
                per_host[r["host"]] = per_host.get(r["host"], 0) + 1
            salted = sum(1 for n in per_host.values() if n >= cfg.salt_hot_batch_threshold)
            self.epoch_stats[epoch] = {
                "rows": len(urls), "feeds": feeds, "entries": feeds * FRONTIER["entries_per_feed"],
                "candidates": cands, "salted_hosts": salted,
            }
            items += len(urls) + cands
        missing = [e for e in measured if e not in by_epoch]
        failed_ops += len(missing)
        if errors and not failed_ops:
            failed_ops = 1  # end-state mismatch no single epoch explains
        return {
            "correct": not errors and not failed_ops,
            "failed_ops": failed_ops,
            "items": items,
            "errors": errors,
            "oracle_s": self.oracle_s,
        }


NAMES = ["frontier_fresh", "image_dedup"]


def make(name: str, run_dir: str, seed: int):
    if name == "frontier_fresh":
        return FrontierWorkload(run_dir, seed)
    if name == "image_dedup":
        from image_workload import ImageDedupWorkload

        return ImageDedupWorkload(run_dir, seed)
    raise SystemExit(f"unknown workload {name!r}; choose from {NAMES}")
