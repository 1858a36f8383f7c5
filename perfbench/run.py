#!/usr/bin/env python3
"""perfbench — end-to-end and per-layer benchmark of the dedup pipeline.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        --seconds <s> --trace <0|1>

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` is the separate traced run: it replays ``dedupe()``'s
public-layer calls with a job group and a barrier per span, runs a
traced append chain and the driver-only kernel microbenchmark, reduces
Spark's event log, and reports the per-layer metrics. Every run checks
its outputs against the planted truth. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the
lines above it give the host and every metric by name with its unit.
A failed check exits 1. ``--workload all`` runs every workload, each in
a fresh process, and exits 1 if any of them fails.

Workloads, metrics and the layer table are described in
perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

MIN_CALLS = 2  # timed calls per run, even past --seconds
JVM_OPTS = "-XX:-UsePerfData"  # no hsperfdata files outside the checkout
# traced runs only: log the driver's memory peaks, polled every 100 ms
TRACE_CONF = {
    "spark.eventLog.logStageExecutorMetrics": "true",
    "spark.executor.metrics.pollingInterval": "100ms",
}
COMPACT_EVERY = 3  # append_delta: fold the chain every 3 batches
KERNEL_SAMPLE = 200  # docs (and pairs) in the kernel microbenchmark

# bench.py's headline minhash configuration
MINHASH = dict(mode="minhash", shingle_k=9, jaccard_threshold=0.6, sig_est_threshold=0.45)
# modes_mix: near pairs are one-char edits; a Hamming radius of 5 keeps
# simhash recall of such pairs at ~1 (radius 3 misses ~1.5% of them)
SIMHASH = dict(mode="simhash", simhash_max_hamming=5)
SUBSTRING = dict(mode="substring")

WORKLOADS = {
    "scan_long": dict(
        why="long, mostly unique docs: the scan and its kernels carry the run",
        kind="batch", cfgs=[MINHASH],
        gen=dict(fn="gen_scan_long", n_docs=4000, n_tokens=2000),
    ),
    "dup_dense": dict(
        why="short docs in near-dup chains plus a hot bucket: LSH, verify and CC carry the run",
        kind="batch", cfgs=[MINHASH],
        gen=dict(fn="gen_dup_dense", n_docs=1100, n_tokens=83, chain_len=12, hot_family=260),
    ),
    "modes_mix": dict(
        why="bench.py class mix through simhash then substring mode",
        kind="batch", cfgs=[SIMHASH, SUBSTRING],
        gen=dict(fn="gen_modes_mix", n_docs=1500, n_tokens=250),
    ),
    "append_delta": dict(
        why="small chained appends to a delta state with compaction: driver- and job-bound",
        kind="append", cfgs=[MINHASH],
        gen=dict(fn="gen_append", n_base=2000, n_batches=40, batch_docs=200, n_tokens=250),
    ),
}

END_TO_END = [
    ("files_per_s", "files/s", "higher"),
    ("setup_s", "s", "lower"),
    ("recall", "ratio", "higher"),
]
# printed when the run measures them, but not in BENCHMARK.json:
# batch_s_p50 is the wall that files_per_s is computed from; peak_rss_mb
# spreads by 0.1-0.2 between runs (G1 grows the default heap as it sees
# fit), too close to the largest bound to gate on; the next three
# are checks that a correct run holds at 0 (label_mismatch on a traced
# batch workload: see trace_append_probe); the last qualifies that check
ALSO_PRINTED = [
    ("batch_s_p50", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("false_merge_rate", "ratio", "lower"),
    ("label_mismatch", "count", "lower"),
    ("error_rate", "ratio", "lower"),
    ("append.divergent_buckets", "count", "lower"),
]
PER_LAYER = [
    ("session.start_s", "s"),
    ("scan.s", "s"), ("scan.us_per_doc", "us"), ("scan.cpu_s", "s"),
    ("kernel.minhash_us_per_doc", "us"), ("kernel.simhash_us_per_doc", "us"),
    ("kernel.winnow_us_per_doc", "us"), ("kernel.jaccard_us_per_pair", "us"),
    ("exact.s", "s"), ("exact.docs_collapsed", "count"),
    ("lsh.s", "s"), ("lsh.band_rows", "count"), ("lsh.candidate_pairs", "count"),
    ("lsh.dropped_buckets", "count"), ("lsh.shuffle_mb", "MB"),
    ("verify.s", "s"), ("verify.pairs_in", "count"), ("verify.pairs_out", "count"),
    ("verify.yield", "ratio"),
    ("cc.s", "s"), ("cc.rounds", "count"), ("cc.edges", "count"), ("cc.components", "count"),
    ("plan.s", "s"), ("plan.rows", "count"),
    ("append.s", "s"), ("append.jobs", "count"), ("append.state_write_mb", "MB"),
    ("append.state_files", "count"), ("append.compact_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.gc_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.failed_tasks", "count"), ("spark.driver_gap_s", "s"),
    ("spark.peak_heap_mb", "MB"), ("spark.peak_unified_mb", "MB"),
    ("trace.overhead_s", "s"),
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- corpora


def ensure_corpus(name: str, seed: int) -> str:
    """Generate (once) the workload's parquet and truth for ``seed``,
    cached under a key of the workload spec and the generator source.
    Layout: ``corpus/`` (batch workloads) or ``base/`` + ``batches/bNNNN``
    (append_delta); ``probe/base`` + ``probe/bN``, the held-out split the
    traced append chain of a batch workload uses; ``truth.json``."""
    from perfbench import gen as G

    spec = WORKLOADS[name]
    with open(G.__file__, "rb") as fh:
        key = hashlib.sha1(fh.read() + json.dumps(spec, sort_keys=True).encode())
    out = os.path.join(WORK, "corpora", f"{name}-{seed}-{key.hexdigest()[:10]}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    cfg = spec["cfgs"][0]
    k = cfg.get("shingle_k", 5)
    tau = cfg.get("jaccard_threshold", 0.7)
    params = {p: v for p, v in spec["gen"].items() if p != "fn"}
    fn = getattr(G, spec["gen"]["fn"])
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    if spec["kind"] == "append":
        corpus, bounds = fn(seed, k=k, tau=tau, **params)
        G.write_parquet(os.path.join(tmp, "base"), corpus.docs[: bounds[0]])
        for i in range(len(bounds) - 1):
            G.write_parquet(
                os.path.join(tmp, "batches", f"b{i:04d}"),
                corpus.docs[bounds[i] : bounds[i + 1]],
            )
        G.save_truth(os.path.join(tmp, "truth.json"), corpus, bounds=bounds)
    else:
        corpus = fn(seed, k=k, tau=tau, **params)
        G.write_parquet(os.path.join(tmp, "corpus"), corpus.docs)
        G.write_parquet(
            os.path.join(tmp, "probe", "base"),
            [d for i, d in enumerate(corpus.docs) if i % 10 != 9],
        )
        held = [d for i, d in enumerate(corpus.docs) if i % 10 == 9]
        for b in range(2):
            G.write_parquet(os.path.join(tmp, "probe", f"b{b}"), held[b::2])
        G.save_truth(os.path.join(tmp, "truth.json"), corpus)
    with open(os.path.join(tmp, "_DONE"), "w"):
        pass
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# ---------------------------------------------------------------- host


def host_info(cores: int, driver_mem: str) -> dict:
    import pyspark

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "cores": cores,
        "ram_gb": round(ram / 2**30, 1),
        "driver_mem": driver_mem,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


# ---------------------------------------------------------------- session


class Bench:
    """One run: a pinned Spark session, the workload's inputs, checks."""

    def __init__(self, args):
        from deduplidog_spark.session import default_driver_mem

        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.cores = len(os.sched_getaffinity(0))
        self.driver_mem = default_driver_mem()  # what get_spark() picks on this host
        self.run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.spark = None

    def pin_env(self) -> None:
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)

    def setup(self, bootstrap=None) -> tuple[float, float]:
        """The run's one cold set-up: get_spark (JVM launch and prewarm
        included), the bench.py warm-up query, and ``bootstrap(spark)``
        when given. Returns its wall and get_spark's wall."""
        from deduplidog_spark.session import get_spark
        from pyspark.sql import functions as F

        tmp = os.path.join(self.run_dir, "tmp")
        self.event_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(self.event_dir, exist_ok=True)
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{self.args.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": self.driver_mem,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
                "spark.local.dir": os.path.join(self.run_dir, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                **(TRACE_CONF if self.args.trace else {}),
            },
        )
        start = time.perf_counter() - t0
        self.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(10000).select(F.sha2(F.col("id").cast("string"), 256)).count()
        if bootstrap is not None:
            bootstrap(spark)
        return time.perf_counter() - t0, start

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            self.failed += 1
            log(f"perfbench: CHECK FAILED: {name}")

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def cfgs(self):
        from deduplidog_spark.config import DedupConfig

        return [DedupConfig(**c) for c in self.spec["cfgs"]]


def labels_of(df) -> dict[str, str]:
    """fid → component of a labels or plan DataFrame, collected whole
    (every column computed) to the driver."""
    pdf = df.toPandas()
    return dict(zip(pdf["fid"], pdf["component"]))


def quality(labels: dict[str, str], truth: dict, docs: set[str] | None = None):
    """(recall, false_merge_rate) of ``labels`` against the planted truth,
    restricted to the docs in ``docs`` when given. A doc absent from
    ``labels`` is a singleton."""
    pairs = [
        (a, b) for a, b in truth["pairs"]
        if docs is None or (a in docs and b in docs)
    ]
    found = sum(
        1 for a, b in pairs
        if labels.get(a, a) == labels.get(b, b)
    )
    unique = [u for u in truth["unique"] if docs is None or u in docs]
    size = Counter(labels.values())
    merged = sum(1 for u in unique if size[labels.get(u, u)] > 1)
    return (
        found / len(pairs) if pairs else 1.0,
        merged / len(unique) if unique else 0.0,
    )


# ---------------------------------------------------------------- runs


def timed_calls(
    b: Bench, call, seconds: float, min_calls: int = MIN_CALLS, max_calls: int | None = None
) -> tuple[list[float], list]:
    """Closed loop: ``call(i)`` back to back until ``seconds`` have passed
    and at least ``min_calls`` calls have run (never more than
    ``max_calls``); returns each call's wall and output."""
    walls, outputs = [], []
    end = time.perf_counter() + seconds
    while (time.perf_counter() < end or len(walls) < min_calls) and (
        max_calls is None or len(walls) < max_calls
    ):
        b.attempted += 1
        t0 = time.perf_counter()
        outputs.append(call(len(walls)))
        walls.append(time.perf_counter() - t0)
    return walls, outputs


def run_batch(b: Bench, corpus: str, truth: dict, out: dict) -> None:
    from deduplidog_spark.pipeline import dedupe
    from perfbench import procs

    out["setup_s"], out["session.start_s"] = b.setup()
    cfgs = b.cfgs()
    raw = b.read(os.path.join(corpus, "corpus"))
    n_docs = raw.count()

    def call(_i=0):
        """One timed call: dedupe() per mode, the action plan collected
        to the driver (fully materialized); returns the labels."""
        return [labels_of(dedupe(raw, cfg).plan) for cfg in cfgs]

    # one untimed call lets the JIT and Spark's code caches fill before
    # timing; its labels are the ones the truth checks read, and every
    # later call must reproduce them
    t0 = time.perf_counter()
    labels0 = call()
    out["_warm"] = [time.perf_counter() - t0]
    recalls, merges = zip(*(quality(lab, truth) for lab in labels0))
    if b.args.trace:
        t0 = time.perf_counter()
        b.check("same_labels_every_call", call() == labels0)
        out["_untraced_s"] = time.perf_counter() - t0
        trace_batch(b, raw, cfgs, labels0, out)
        trace_append_probe(b, corpus, cfgs[0], labels0[0], out)
        kernels(b, corpus, truth, cfgs, out)
    else:
        walls, outputs = timed_calls(b, call, b.args.seconds)
        out["_walls"] = walls
        b.check("same_labels_every_call", all(o == labels0 for o in outputs))
        out["batch_s_p50"] = statistics.median(walls) if walls else float("nan")
        out["files_per_s"] = n_docs * len(cfgs) / out["batch_s_p50"]
        out["samples"] = len(walls)
        out["peak_rss_mb"], out["_rss_each"] = procs.peak_rss_mb(b.jvm_pid())
    out["recall"] = statistics.fmean(recalls)
    out["false_merge_rate"] = statistics.fmean(merges)
    b.check("recall", out["recall"] >= 0.99)
    b.check("false_merge_rate", out["false_merge_rate"] == 0)


def run_append(b: Bench, corpus: str, truth: dict, out: dict) -> None:
    from deduplidog_spark.pipeline import dedupe
    from deduplidog_spark.incremental import load_state_delta
    from deduplidog_spark.streaming.incremental import (
        bootstrap_append_state,
        process_append_batch,
    )
    from perfbench import procs

    (cfg,) = b.cfgs()
    root = os.path.join(b.run_dir, "state")

    def bootstrap(spark):
        base = spark.read.parquet(os.path.join(corpus, "base"))
        bootstrap_append_state(base, cfg, root, state_layout="delta")

    out["setup_s"], out["session.start_s"] = b.setup(bootstrap)
    batch_dirs = sorted(os.listdir(os.path.join(corpus, "batches")))

    def batch(i):
        return b.read(os.path.join(corpus, "batches", batch_dirs[i]))

    if b.args.trace:
        from perfbench.trace import traced_append_chain

        base = b.read(os.path.join(corpus, "base"))
        labels0 = [labels_of(dedupe(base, cfg).plan)]
        t0 = time.perf_counter()
        b.check("same_labels_every_call", labels_of(dedupe(base, cfg).plan) == labels0[0])
        out["_untraced_s"] = time.perf_counter() - t0
        trace_batch(b, base, [cfg], labels0, out)
        n_done = COMPACT_EVERY + 1
        traced_append_chain(
            b.tracer, [batch(i) for i in range(n_done)], cfg, root, COMPACT_EVERY
        )
        out["append.divergent_buckets"] = b.tracer.counts["append.divergent_buckets"]
        kernels(b, corpus, truth, [cfg], out)
    else:
        def append(i):
            process_append_batch(
                batch(i), cfg, root, i,
                state_layout="delta", compact_every=COMPACT_EVERY,
            )

        # batch 0 warms the append queries up; the rest are timed, at
        # least one compaction (batch id COMPACT_EVERY) included
        append(0)
        walls, _ = timed_calls(
            b, lambda i: append(i + 1), b.args.seconds,
            min_calls=COMPACT_EVERY, max_calls=len(batch_dirs) - 1,
        )
        n_done = len(walls) + 1
        out["_walls"] = walls
        out["batch_s_p50"] = statistics.median(walls)
        out["files_per_s"] = WORKLOADS["append_delta"]["gen"]["batch_docs"] / out["batch_s_p50"]
        out["samples"] = len(walls)
        out["peak_rss_mb"], out["_rss_each"] = procs.peak_rss_mb(b.jvm_pid())

    # checks, outside every timed window: the chain's labels against one
    # dedupe() over base ∪ the batches it processed
    chain = labels_of(load_state_delta(b.spark, cfg, root).labels)
    everything = b.read(os.path.join(corpus, "base"))
    for i in range(n_done):
        everything = everything.unionByName(batch(i))
    full = labels_of(dedupe(everything, cfg).plan)
    out["label_mismatch"] = mismatch(chain, full)
    docs = set(r["fid"] for r in everything.selectExpr("concat_ws('/', repo, path) AS fid").collect())
    out["recall"], out["false_merge_rate"] = quality(chain, truth, docs)
    b.check("label_mismatch", out["label_mismatch"] == 0)
    b.check("recall", out["recall"] >= 0.99)
    b.check("false_merge_rate", out["false_merge_rate"] == 0)


def trace_batch(b: Bench, raw, cfgs, labels0, out: dict) -> None:
    """Traced replay of every mode; its labels must equal dedupe()'s."""
    from perfbench.trace import Tracer, replay_dedupe

    b.tracer = Tracer(b.spark, b.jvm_pid())
    t0 = time.perf_counter()
    for cfg, want in zip(cfgs, labels0):
        got = labels_of(replay_dedupe(b.tracer, raw, cfg))
        b.check(f"trace_labels_{cfg.mode}", got == want)
    out["trace.overhead_s"] = time.perf_counter() - t0 - out.pop("_untraced_s")


def trace_append_probe(b: Bench, corpus: str, cfg, want: dict, out: dict) -> None:
    """Batch workloads: bootstrap on 90% of the corpus, then a traced
    chain of two appends of the held-out 10%, compacting once. The
    chain's labels must equal ``want``, dedupe()'s over the corpus."""
    from deduplidog_spark.incremental import load_state_delta
    from deduplidog_spark.streaming.incremental import bootstrap_append_state
    from perfbench.trace import traced_append_chain

    probe = os.path.join(corpus, "probe")
    root = os.path.join(b.run_dir, "probe_state")
    bootstrap_append_state(b.read(os.path.join(probe, "base")), cfg, root, state_layout="delta")
    batches = [b.read(os.path.join(probe, f"b{i}")) for i in range(2)]
    traced_append_chain(b.tracer, batches, cfg, root, compact_every=1)
    chain = labels_of(load_state_delta(b.spark, cfg, root).labels)
    out["label_mismatch"] = mismatch(chain, want)
    out["append.divergent_buckets"] = b.tracer.counts["append.divergent_buckets"]
    # equality is the library's guarantee except where a batch pushed a
    # bucket the base run kept over max_bucket_size (documented at
    # incremental.incremental_candidate_pairs); with such buckets the
    # mismatch is reported, and fails the run only without them
    b.check(
        "probe_labels_equal_dedupe_unless_divergent_buckets",
        out["label_mismatch"] == 0 or out["append.divergent_buckets"] > 0,
    )


def mismatch(a: dict[str, str], b: dict[str, str]) -> int:
    """Docs whose component differs between two label maps (a doc
    missing from a map is a singleton)."""
    return sum(1 for f in set(a) | set(b) if a.get(f, f) != b.get(f, f))


def kernels(b: Bench, corpus: str, truth: dict, cfgs, out: dict) -> None:
    from perfbench.kernels import kernel_metrics, sample
    from perfbench.gen import load_docs

    docs = load_docs(corpus)
    text = dict(docs)
    pairs = [(text[x], text[y]) for x, y in truth["pairs"][:KERNEL_SAMPLE]]
    out.update(kernel_metrics(sample(docs, KERNEL_SAMPLE, b.args.seed), pairs, cfgs[0]))


def layer_metrics(b: Bench, out: dict) -> None:
    """Per-layer metrics from the spans (self time) and the run's event
    log (Spark counts per span's job group, memory peaks)."""
    from perfbench.eventlog import (
        GroupStats, log_files, peak_executor_metrics, reduce_log, union_ms,
    )

    tr = b.tracer
    groups: dict[str, GroupStats] = {}
    for path in log_files(b.event_dir):
        groups.update(reduce_log(path))

    def of(name: str) -> list[int]:
        return [i for i, s in enumerate(tr.spans) if s.name == name]

    def stats(idxs) -> GroupStats:
        total = GroupStats()
        for i in idxs:
            total.add(groups.get(tr.spans[i].group, GroupStats()))
        return total

    def self_s(name: str) -> float:
        return sum(tr.self_s(i) for i in of(name))

    c = tr.counts
    mb = 2.0**20
    for layer in ("scan", "exact", "lsh", "verify", "cc", "plan"):
        out[f"{layer}.s"] = self_s(layer)
    out["scan.us_per_doc"] = out["scan.s"] * 1e6 / c["scan.docs"]
    out["scan.cpu_s"] = sum(tr.spans[i].cpu_s for i in of("scan"))
    out["exact.docs_collapsed"] = c["exact.docs_collapsed"]
    for k in ("band_rows", "candidate_pairs", "dropped_buckets"):
        out[f"lsh.{k}"] = c[f"lsh.{k}"]
    out["lsh.shuffle_mb"] = stats(of("lsh")).shuffle_write_bytes / mb
    out["verify.pairs_in"] = c["verify.pairs_in"]
    out["verify.pairs_out"] = c["verify.pairs_out"]
    out["verify.yield"] = c["verify.pairs_out"] / max(c["verify.pairs_in"], 1)
    out["cc.rounds"] = stats(of("cc")).jobs
    out["cc.edges"] = c["cc.edges"]
    out["cc.components"] = c["cc.components"]
    out["plan.rows"] = c["plan.rows"]
    appends = of("append") + of("append.compact")
    out["append.s"] = self_s("append")
    out["append.compact_s"] = self_s("append.compact")
    out["append.jobs"] = stats(appends).jobs / c["append.batches"]
    out["append.state_write_mb"] = c["append.state_write_bytes"] / mb
    out["append.state_files"] = c["append.state_files"]

    every = stats(range(len(tr.spans)))
    out["spark.jobs"] = every.jobs
    out["spark.stages"] = every.stages
    out["spark.shuffle_write_mb"] = every.shuffle_write_bytes / mb
    out["spark.spill_mb"] = every.spill_bytes / mb
    out["spark.gc_s"] = every.gc_ms / 1000.0
    out["spark.task_cpu_s"] = every.task_cpu_ns / 1e9
    out["spark.failed_tasks"] = every.failed_tasks
    gap_ms = 0
    for i, sp in enumerate(tr.spans):
        if sp.parent is None:
            kids = [i] + [j for j, s in enumerate(tr.spans) if s.parent == i]
            busy = union_ms(stats(kids).job_intervals, sp.start_ms, sp.end_ms)
            gap_ms += sp.end_ms - sp.start_ms - busy
    out["spark.driver_gap_s"] = gap_ms / 1000.0
    peaks = peak_executor_metrics(b.event_dir)
    if "JVMHeapMemory" in peaks:  # else missing, and the run is not correct
        out["spark.peak_heap_mb"] = (peaks["JVMHeapMemory"] + peaks["JVMOffHeapMemory"]) / mb
        out["spark.peak_unified_mb"] = peaks["OnHeapUnifiedMemory"] / mb


def run_one(args) -> int:
    b = Bench(args)
    b.pin_env()
    corpus = ensure_corpus(args.workload, args.seed)  # never timed
    truth_path = os.path.join(corpus, "truth.json")
    from perfbench.gen import load_truth

    truth = load_truth(truth_path)
    out: dict = {}
    info = host_info(b.cores, b.driver_mem)
    try:
        if b.spec["kind"] == "append":
            run_append(b, corpus, truth, out)
        else:
            run_batch(b, corpus, truth, out)
    except Exception as exc:
        b.attempted += 1
        b.failed += 1
        log(f"perfbench: run failed: {exc!r}")
        import traceback

        traceback.print_exc()
    finally:
        if b.spark is not None:
            b.shutdown()
    if args.trace and b.failed == 0:
        layer_metrics(b, out)
    shutil.rmtree(b.run_dir, ignore_errors=True)

    out["error_rate"] = b.failed / max(b.attempted, 1)
    correct = b.failed == 0
    wanted = PER_LAYER if args.trace else [(n, u) for n, u, _ in END_TO_END]
    metrics = {
        n: {"value": float(out[n]), "unit": u} for n, u in wanted if n in out
    }
    correct = correct and len(metrics) == len(wanted)
    print(
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        + " ".join(f"{k}={v}" for k, v in info.items())
    )
    direction = {n: d for n, _, d in END_TO_END + ALSO_PRINTED}
    shown = wanted + [
        (n, u) for n, u, _ in (END_TO_END if args.trace else []) + ALSO_PRINTED if n in out
    ]
    for n, u in shown:
        tail = f"  ({direction[n]} is better)" if n in direction else ""
        print(f"  {n:28s} {out.get(n, float('nan')):14.4f} {u}{tail}")
    if "samples" in out:
        print(f"  timed calls: {out['samples']}, walls: {[round(w, 3) for w in out['_walls']]}")
        print(f"  warm: {[round(w, 3) for w in out.get('_warm', [])]}")
        print(f"  rss MB (JVM first): {[round(m) for m in out['_rss_each']]}")
    for name, ok in b.checks.items():
        print(f"  check {name}: {'ok' if ok else 'FAILED'}")
    print(json.dumps({
        "correct": correct,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in a fresh process; a table of the results."""
    rows, worst = [], 0
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write("".join(proc.stdout.splitlines(True)[:-1]))
        worst = max(worst, proc.returncode)
        try:
            rows.append((name, json.loads(proc.stdout.splitlines()[-1])))
        except (IndexError, ValueError):
            rows.append((name, {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            worst = max(worst, 1)
    print(json.dumps({
        "correct": all(r["correct"] for _, r in rows),
        "attempted": sum(r["attempted"] for _, r in rows),
        "failed": sum(r["failed"] for _, r in rows),
        "metrics": {f"{n}.{m}": v for n, r in rows for m, v in r["metrics"].items()},
    }), flush=True)
    return worst


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "deduplidog_spark")):
        log(f"perfbench: no deduplidog_spark package under {ROOT}; run from a checkout")
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
