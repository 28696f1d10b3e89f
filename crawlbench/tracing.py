"""Traced run: spans around each layer's public functions, joined with the
Spark event log, reduced to the per-layer metrics listed in README.md.

On ``image_dedup`` the spans are the five operator calls of each pass, each
named after the library function it runs and covering that call up to its
collected result (the functions themselves return lazy plans).

Each wrapped function opens a span and sets the Spark local property
``crawlbench.span`` to the span id, so every job it (or a child span)
starts is tagged in the event log's job-start event. Spans live in memory
and are reduced after ``spark.stop()`` has flushed the event log.

Lazy functions (``enqueue``, ``schedule_fetches``, ``robots_filter``,
``salt_hot_hosts``, ``fetch_and_parse_feeds``) only build plans: their
span time is planning time and the execution they describe is charged to
the span whose action runs it (``LAZY`` below).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

from image_workload import OPERATORS as IMAGE_OPS

PROP = "crawlbench.span"
COUNTERS = "trace.counters"

#: (module path, attribute, span name); attributes are patched where the
#: caller looks them up — crawl.engine imports most functions by name
WRAPPED = [
    ("podcast_plow_spark.crawl.engine:CrawlEngine", "run_epoch", "engine.run_epoch"),
    ("podcast_plow_spark.crawl.engine:CrawlEngine", "bootstrap", "engine.bootstrap"),
    ("podcast_plow_spark.operators.frontier", "dequeue_batch_polite", "frontier.dequeue_batch_polite"),
    ("podcast_plow_spark.operators.frontier", "enqueue", "frontier.enqueue"),
    ("podcast_plow_spark.crawl.engine", "seen_filter_exact", "seen.seen_filter_exact"),
    ("podcast_plow_spark.crawl.engine", "build_bloom", "seen.build_bloom"),
    ("podcast_plow_spark.crawl.engine", "build_cuckoo", "seen.build_cuckoo"),
    ("podcast_plow_spark.crawl.engine", "robots_filter", "politeness.robots_filter"),
    ("podcast_plow_spark.crawl.engine", "schedule_fetches", "politeness.schedule_fetches"),
    ("podcast_plow_spark.crawl.engine", "salt_hot_hosts", "politeness.salt_hot_hosts"),
    ("podcast_plow_spark.crawl.engine", "fetch_and_parse_feeds", "feeds.fetch_and_parse_feeds"),
    ("podcast_plow_spark.crawl.engine", "load_seeds", "feeds.load_seeds"),
    ("podcast_plow_spark.sources.snapshots:SnapshotStore", "read_table", "snapshots.read_table"),
    ("podcast_plow_spark.sources.snapshots:SnapshotStore", "append_table", "snapshots.append_table"),
    ("podcast_plow_spark.sources.snapshots:SnapshotStore", "merge_delta", "snapshots.merge_delta"),
    ("podcast_plow_spark.sources.snapshots:SnapshotStore", "compact_deltas", "snapshots.compact_deltas"),
    ("podcast_plow_spark.sources.snapshots:SnapshotStore", "commit", "snapshots.commit"),
]
LAZY = {
    "frontier.enqueue", "politeness.robots_filter", "politeness.schedule_fetches",
    "politeness.salt_hot_hosts", "feeds.fetch_and_parse_feeds",
}
#: spans whose jobs get their own spark.* execution metrics; "op" is
#: every job of the measured ops, "engine.run_epoch" the jobs it starts
#: itself. The dequeue starts no job below its 100 000-row sampling
#: cutoff and the Bloom fold first runs in epoch 3, so neither owns jobs
#: here.
SPARK_OWNERS = [
    "op", "engine.run_epoch", "seen.seen_filter_exact", "seen.build_cuckoo",
    "snapshots.append_table", "snapshots.merge_delta", "snapshots.compact_deltas",
]
#: image_dedup: the workload's operator calls, one span per library function
WRAPPED_IMAGES = [("image_workload:ImageDedupWorkload", "op_" + n.split(".")[1], n) for n in IMAGE_OPS]
SPARK_METRICS = [
    ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("sched_delay_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"), ("tasks", "count"),
]
#: reported for "op" only: a single span's few small tasks neither
#: collect nor spill, so per span these would read 0 in every run
OP_ONLY = {"gc_s", "spill_mb"}
LAYER_WALL = [
    "frontier.dequeue_batch_polite", "frontier.enqueue", "seen.seen_filter_exact", "seen.build_cuckoo", "politeness.robots_filter", "politeness.schedule_fetches",
    "politeness.salt_hot_hosts", "feeds.fetch_and_parse_feeds", "snapshots.read_table",
    "snapshots.append_table", "snapshots.merge_delta", "snapshots.compact_deltas", "snapshots.commit",
]


def event_log_conf(run_dir: str) -> dict:
    d = os.path.join(run_dir, "eventlog")
    os.makedirs(d, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + d,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    m = importlib.import_module(mod)
    return getattr(m, cls) if cls else m


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") or f.endswith(".json"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


class Span:
    __slots__ = ("id", "parent", "name", "t0", "t1", "op")

    def __init__(self, sid: int, parent: int | None, name: str, op: int | None):
        self.id, self.parent, self.name, self.op = sid, parent, name, op
        self.t0 = time.time()
        self.t1 = self.t0


class Tracer:
    def __init__(self, spark, workload):
        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.images = workload.KIND == "images"
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self.n_ops = 0
        self.overhead_s = 0.0
        self._patched: list = []
        self.per_op: dict[int, dict] = {}
        self.filter_bytes = {"bloom": 0, "cuckoo": 0}
        self.seen_counts: list[tuple[int, int]] = []
        self._files: dict[str, int] = {}
        self._next_seq = 0

    # -- spans ----------------------------------------------------------

    def _open(self, name: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        s = Span(len(self.spans), parent, name, self.op)
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setLocalProperty(PROP, str(s.id))
        return s

    def _close(self, s: Span) -> None:
        s.t1 = time.time()
        self.stack.pop()
        self.sc.setLocalProperty(PROP, str(self.stack[-1].id) if self.stack else None)

    def _wrap(self, owner, attr: str, name: str):
        original = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            s = tracer._open(name)
            try:
                result = original(*args, **kwargs)
            finally:
                tracer._close(s)
            tracer._after(name, result, kwargs)
            return result

        wrapped.__wrapped__ = original
        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, original))

    def _after(self, name: str, result, kwargs) -> None:
        """Counters read where the work happened, from objects the call
        already built; the only Spark job is an aggregate over the seen
        filter's cached probe."""
        if name == "seen.build_bloom":
            self.filter_bytes["bloom"] = result.words.nbytes
        elif name == "seen.build_cuckoo":
            self.filter_bytes["cuckoo"] = result.buckets.nbytes
        elif name == "seen.seen_filter_exact" and kwargs.get("cache_registry"):
            from pyspark.sql import functions as F

            probed = kwargs["cache_registry"][-1]
            s = self._open(COUNTERS)
            try:
                row = probed.agg(
                    F.count(F.lit(1)).alias("n"), F.sum(F.col("maybe_seen").cast("long")).alias("pos")
                ).collect()[0]
            finally:
                self._close(s)
            self.seen_counts.append((int(row["n"]), int(row["pos"] or 0)))

    def install(self) -> None:
        for path, attr, name in WRAPPED_IMAGES if self.images else WRAPPED:
            self._wrap(_resolve(path), attr, name)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- per-op bookkeeping (outside spans, counted as tracing overhead) --

    def _store_state(self) -> None:
        self._files = _dir_files(self.wl.store_root)
        self._next_seq = int(self.wl.engine.store.latest_metadata().get("next_seq", 1))

    def _storage_mb(self) -> float:
        return sum(i.memSize() for i in self.sc._jsc.sc().getRDDStorageInfo()) / 2**20

    def begin_op(self) -> None:
        t = time.perf_counter()
        if self.n_ops == 0 and not self.images:
            self._store_state()
        self.op = self.n_ops
        self.seen_counts = []
        self.overhead_s += time.perf_counter() - t

    def end_op(self) -> None:
        t = time.perf_counter()
        if self.images:
            self.per_op[self.op] = {"storage_mb": self._storage_mb()}
        else:
            self._end_epoch()
        self.op = None
        self.n_ops += 1
        self.overhead_s += time.perf_counter() - t

    def _end_epoch(self) -> None:
        before, seq0 = self._files, self._next_seq
        self._store_state()
        new = {p: b for p, b in self._files.items() if p not in before}
        store = self.wl.engine.store
        entry = store.table_entry("frontier")
        live = [os.path.join(store.root, r) for r in [*entry["buckets"].values(), *entry.get("deltas", [])]]
        live_bytes = sum(b for p, b in self._files.items() if any(p.startswith(d + os.sep) for d in live))
        cand = sum(n for n, _ in self.seen_counts)
        pos = sum(p for _, p in self.seen_counts)
        self.per_op[self.op] = {
            "files": len(new),
            "bytes": sum(new.values()),
            "n_new": self._next_seq - seq0,
            "live_bytes": live_bytes,
            "live_rows": self._next_seq - 1,
            "candidates": cand,
            "bloom_pos": pos,
            "filter_mb": sum(self.filter_bytes.values()) / 2**20,
            "storage_mb": self._storage_mb(),
        }


# -- event log -------------------------------------------------------------


def _read_event_log(run_dir: str):
    files = [f for f in glob.glob(os.path.join(run_dir, "eventlog", "*")) if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    span = (e.get("Properties") or {}).get(PROP)
                    jobs[e["Job ID"]] = {
                        "t0": e["Submission Time"] / 1000.0,
                        "t1": None,
                        "span": int(span) if span not in (None, "") else None,
                    }
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
                elif ev == "SparkListenerTaskEnd":
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    launch = ti["Launch Time"]
                    tasks.append({
                        "job": stage_job.get(e["Stage ID"]),
                        "dur": (ti["Finish Time"] - launch) / 1000.0,
                        "run": tm.get("Executor Run Time", 0) / 1000.0,
                        "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc": tm.get("JVM GC Time", 0) / 1000.0,
                        "sched": max(0, launch - stage_submit.get(e["Stage ID"], launch)) / 1000.0,
                        "shuffle": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Disk Bytes Spilled", 0) + tm.get("Memory Bytes Spilled", 0),
                        "records": (tm.get("Input Metrics") or {}).get("Records Read", 0),
                    })
    return jobs, tasks


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _frontier_layers(put, tracer: Tracer, wl, jobs: dict, job_owner: dict, job_op: dict, counters: list, n: int) -> None:
    spans = tracer.spans
    epochs = {s.op: s for s in spans if s.name == "engine.run_epoch" and s.op is not None and s.parent is None}
    # engine: self time, jobs and job-free time per epoch
    self_s, jobs_per, no_job = [], [], []
    for op, ep in epochs.items():
        child = sum(s.t1 - s.t0 for s in spans if s.parent == ep.id)
        self_s.append(ep.t1 - ep.t0 - child)
        ep_jobs = [j for j, o in job_op.items() if o == op]
        jobs_per.append(len(ep_jobs))
        covered = [(jobs[j]["t0"], jobs[j]["t1"] or ep.t1) for j in ep_jobs]
        covered += [(s.t0, s.t1) for s in counters if s.op == op]
        no_job.append(ep.t1 - ep.t0 - _union_len(covered, ep.t0, ep.t1))
    put("engine.run_epoch.self_s", statistics.median(self_s) if self_s else 0, "s")
    put("engine.jobs_per_epoch", statistics.median(jobs_per) if jobs_per else 0, "count")
    put("engine.no_job_s", statistics.median(no_job) if no_job else 0, "s")

    # layer wall times (per op) and job counts
    wall: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.op is not None and s.name in LAYER_WALL:
            wall[s.name] += s.t1 - s.t0
    for name in LAYER_WALL:
        put(f"{name}.wall_s", wall[name] / n, "s")
    owned_jobs: dict[str, int] = defaultdict(int)
    for jid, owner in job_owner.items():
        owned_jobs[owner] += 1
    put("seen.seen_filter_exact.jobs", owned_jobs["seen.seen_filter_exact"] / n, "count")
    # per run, warm-up epoch included
    put("snapshots.compact_deltas.calls", sum(1 for s in spans if s.name == "snapshots.compact_deltas"), "count")
    # set-up side of the same layers: bootstrap and the full Bloom build
    # happen before the measured ops and are charged to setup_s
    for name in ("engine.bootstrap", "seen.build_bloom"):
        put(f"{name}.setup_s", sum(s.t1 - s.t0 for s in spans if s.op is None and s.name == name), "s")

    stats = [wl.epoch_stats[e] for e in sorted(wl.epoch_stats)]
    per = [tracer.per_op[o] for o in sorted(tracer.per_op)]
    n_new = sum(p["n_new"] for p in per)
    put("frontier.enqueue.rows_out", n_new / n, "count")

    # seen filter: candidates, Bloom positives, false positives
    cand = sum(p["candidates"] for p in per)
    pos = sum(p["bloom_pos"] for p in per)
    false_pos = pos - (cand - n_new)
    put("seen.candidates_in", cand / n, "count")
    put("seen.bloom_pos_frac", pos / cand if cand else 0, "ratio")
    put("seen.bloom_fpr", false_pos / n_new if n_new else 0, "ratio")
    put("seen.unseen_out", n_new / n, "count")
    put("seen.filter_mb", max(p["filter_mb"] for p in per) if per else 0, "MB")

    put("politeness.salted_hosts", sum(st["salted_hosts"] for st in stats) / n, "count")
    put("feeds.entries_out", sum(st["entries"] for st in stats) / n, "count")

    committed = sum(st["rows"] for st in stats) + n_new
    put("snapshots.files_per_epoch", sum(p["files"] for p in per) / n, "count")
    put("snapshots.bytes_written_per_row", sum(p["bytes"] for p in per) / committed if committed else 0, "B")
    last = per[-1] if per else {"live_bytes": 0, "live_rows": 1}
    put("snapshots.store_bytes_per_live_row", last["live_bytes"] / max(1, last["live_rows"]), "B")
    put("spark.storage_mb_after_op", max(p["storage_mb"] for p in per) if per else 0, "MB")


def _image_layers(put, tracer: Tracer, wl, n_by_owner: dict) -> None:
    """Per operator call: wall time up to the collected result, result
    sizes; and the Spark storage still held after each pass (cached
    relations the operators never unpersist accumulate here)."""
    wall: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        if s.op is not None and s.name in IMAGE_OPS:
            wall[s.name] += s.t1 - s.t0
    for name in IMAGE_OPS:
        put(f"{name}.wall_s", wall[name] / max(1, n_by_owner.get(name, 0)), "s")
    stats = wl.op_stats()
    inv = [st for st in stats if st["op"] == "images.check_invariants"]
    put("images.check_invariants.rows_checked", statistics.median(st["rows_checked"] for st in inv) if inv else 0, "count")
    put("images.check_invariants.rows_failed", statistics.median(st["rows_failed"] for st in inv) if inv else 0, "count")
    for name in IMAGE_OPS[1:]:
        if name != "multimodal.extract_image_features":
            out = [st["rows_out"] for st in stats if st["op"] == name]
            put(f"{name}.pairs_out", statistics.median(out) if out else 0, "count")
    per = list(tracer.per_op.values())
    put("spark.storage_mb_after_op", max(p["storage_mb"] for p in per) if per else 0, "MB")

def report(tracer: Tracer, wl, rss, items_per_s: float, measured_s: float, run_dir: str) -> dict:
    """Per-layer metrics over the measured ops: per-op means of additive
    quantities, ratios of sums for ratios. Prints one ``trace`` line
    naming the spans that time planning only."""
    jobs, tasks = _read_event_log(run_dir)
    tagged = sum(1 for j in jobs.values() if j["span"] is not None)
    planning_only = [] if tracer.images else sorted(LAZY)
    storage = [round(tracer.per_op[o]["storage_mb"], 3) for o in sorted(tracer.per_op)]
    print(json.dumps({"trace": {"planning_only": planning_only, "spans": len(tracer.spans),
                                "jobs": len(jobs), "jobs_tagged": tagged, "storage_mb_after_each_op": storage}}))
    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def ancestors(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid].parent

    counters = [s for s in spans if s.name == COUNTERS and s.op is not None]
    # every job of a measured op, keyed to its innermost span and epoch
    job_owner: dict[int, str] = {}
    job_op: dict[int, int] = {}
    for jid, j in jobs.items():
        if j["span"] is None or j["span"] not in by_id:
            continue
        chain = list(ancestors(j["span"]))
        if chain[0].op is None or any(s.name == COUNTERS for s in chain):
            continue
        job_owner[jid] = chain[0].name
        job_op[jid] = chain[0].op

    m: dict[str, dict] = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    n_ops = max(1, len(tracer.per_op))
    if tracer.images:
        n_by_owner = defaultdict(int)
        for s in tracer.spans:
            if s.op is not None and s.name in IMAGE_OPS:
                n_by_owner[s.name] += 1
        _image_layers(put, tracer, wl, n_by_owner)
    else:
        n_by_owner = {}
        _frontier_layers(put, tracer, wl, jobs, job_owner, job_op, counters, n_ops)

    # Spark execution per owning span, per op of that span's kind
    groups: dict[str, list[dict]] = defaultdict(list)
    for t in tasks:
        owner = job_owner.get(t["job"])
        if owner is None:
            continue
        groups["op"].append(t)
        groups[owner].append(t)
    for owner in ["op", *IMAGE_OPS] if tracer.images else SPARK_OWNERS:
        ts = groups.get(owner, [])
        n = max(1, n_by_owner.get(owner, n_ops))
        durs = [t["dur"] for t in ts]
        med = statistics.median(durs) if durs else 0
        vals = {
            "task_s": sum(t["run"] for t in ts) / n,
            "cpu_s": sum(t["cpu"] for t in ts) / n,
            "gc_s": sum(t["gc"] for t in ts) / n,
            "sched_delay_s": sum(t["sched"] for t in ts) / n,
            "shuffle_write_mb": sum(t["shuffle"] for t in ts) / 2**20 / n,
            "spill_mb": sum(t["spill"] for t in ts) / 2**20 / n,
            "task_skew": max(durs) / med if med else 0,
            "tasks": len(ts) / n,
        }
        for key, unit in SPARK_METRICS:
            if owner == "op" or key not in OP_ONLY:
                put(f"spark.{key}.{owner}", vals[key], unit)

    overhead = tracer.overhead_s + sum(s.t1 - s.t0 for s in counters)
    put("process.peak_rss_jvm_mb", rss.jvm_mb, "MB")
    put("process.peak_rss_python_mb", rss.python_mb, "MB")
    put("trace.items_per_s", items_per_s, "1/s")
    put("trace.overhead_frac", overhead / measured_s, "ratio")
    return m
