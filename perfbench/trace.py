"""Spans recorded from outside the library, and the traced replay.

A span wraps calls into one layer's public functions. It sets its own
Spark job group, so the event log attributes every job to exactly one
span, and ends with a barrier (an eager ``localCheckpoint``) so its
wall holds its own work and nothing that a later consumer pulls
lazily. Spans stay in memory until the run ends.

``replay_dedupe`` replays ``pipeline.dedupe``'s public-layer calls in
order for the in-memory path (no checkpoint target): the fused minhash
scan, or the ingest + signature UDF scan of the simhash and substring
modes. Its labels are checked against the untraced ``dedupe`` — a
replay that drifted from the pipeline fails the run.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplidog_spark.ingest import ingest
from deduplidog_spark.operators import minhash as mh
from deduplidog_spark.operators import simhash as sh
from deduplidog_spark.operators import substring as ss
from deduplidog_spark.operators.actions import action_plan, run_metrics
from deduplidog_spark.operators.candidates import lsh_candidate_pairs
from deduplidog_spark.operators.cluster import connected_components, elect_keepers
from deduplidog_spark.operators.exact import exact_dup_pairs_from_groups, sha_groups
from deduplidog_spark.operators.verify import verify_candidate_pairs
from perfbench import procs
from perfbench.eventlog import union_ms


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start_ms: int
    end_ms: int
    cpu_s: float = 0.0  # JVM + Python workers, from /proc


class Tracer:
    """In-memory span log; one Spark job group per span."""

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        group = f"perfbench-{idx}-{name}"
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, group, parent, time.time_ns() // 10**6, 0))
        self._stack.append(idx)
        self.sc.setJobGroup(group, name, False)
        cpu0 = procs.cpu_ticks(self.jvm_pid)
        try:
            yield
        finally:
            self.spans[idx].end_ms = time.time_ns() // 10**6
            self.spans[idx].cpu_s = procs.cpu_s_between(
                cpu0, procs.cpu_ticks(self.jvm_pid)
            )
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]].group, "", False)
            else:
                self.sc.setJobGroup("perfbench-untraced", "", False)

    def count(self, name: str, value: float) -> None:
        """Counters add up across repeated spans of one layer."""
        self.counts[name] = self.counts.get(name, 0) + value

    def self_s(self, idx: int) -> float:
        """Span wall minus the part of it that its child spans cover."""
        sp = self.spans[idx]
        kids = [(c.start_ms, c.end_ms) for c in self.spans if c.parent == idx]
        return (sp.end_ms - sp.start_ms - union_ms(kids, sp.start_ms, sp.end_ms)) / 1000.0


def _barrier(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _with_fid(df: DataFrame) -> DataFrame:
    return df.withColumn("fid", F.concat_ws("/", "repo", "path"))


def replay_dedupe(tr: Tracer, raw: DataFrame, cfg) -> DataFrame:
    """Traced replay of ``dedupe(raw, cfg)`` for the minhash, simhash and
    substring modes; returns the labels (fid, component)."""
    with tr.span("scan"):
        files_full = _with_fid(ingest(raw, cfg))
        slim_cols = [c for c in files_full.columns if c != "content"]
        if cfg.mode == "minhash":
            banded, extra = _with_fid(mh.banded_ingest_scan(raw, cfg)), ["band_hashes"]
        elif cfg.mode == "simhash":
            banded = sh.with_simhash_chunks(sh.with_simhash(files_full, cfg), cfg)
            extra = ["band_hashes", "simhash"]
        else:
            banded, extra = ss.with_fingerprints(files_full, cfg), ["band_hashes"]
        combined = _barrier(banded.select(*slim_cols, *extra))
    files = combined.select(*slim_cols)
    slim = combined.select("fid", "sha", "size", "n_lines", *extra)
    n_docs = files.count()
    tr.count("scan.docs", n_docs)

    with tr.span("exact"):
        groups = _barrier(sha_groups(files))
        exact = _barrier(exact_dup_pairs_from_groups(files, groups))
    n_groups = groups.count()
    tr.count("exact.docs_collapsed", n_docs - n_groups)

    with tr.span("lsh"):
        reps = slim.join(groups.select(F.col("root").alias("fid")), "fid", "left_semi")
        band_rows = (
            ss.explode_fingerprints(reps) if cfg.mode == "substring"
            else mh.explode_bands(reps)
        )
        pairs, dropped = lsh_candidate_pairs(band_rows, cfg)
        pairs = _barrier(pairs)
        dropped = _barrier(dropped)
    n_pairs = pairs.count()
    tr.count("lsh.band_rows", band_rows.count())
    tr.count("lsh.candidate_pairs", n_pairs)
    tr.count("lsh.dropped_buckets", dropped.count())

    with tr.span("verify"):
        if cfg.mode == "simhash":
            pairs = sh.hamming_filter(pairs, slim, cfg)
        verified = _barrier(
            verify_candidate_pairs(
                pairs, slim, cfg, contents=files_full.select("fid", "content")
            ).select("id_a", "id_b")
        )
    tr.count("verify.pairs_in", n_pairs)
    tr.count("verify.pairs_out", verified.count())

    with tr.span("cc"):
        edges = verified.union(exact)
        labels = _barrier(
            connected_components(
                edges, cfg.cc_max_iterations, assume_unique_edges=True
            )
        )
    tr.count("cc.edges", edges.count())
    tr.count("cc.components", labels.select("component").distinct().count())

    with tr.span("plan"):
        clusters = elect_keepers(files, labels, cfg)
        plan = _barrier(action_plan(clusters, cfg))
        run_metrics(plan, files).collect()
    tr.count("plan.rows", plan.count())
    return labels


def _tree(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def traced_append_chain(
    tr: Tracer, batches: list[DataFrame], cfg, root: str, compact_every: int
) -> None:
    """Chained ``process_append_batch`` calls over a bootstrapped delta
    root, one ``append`` span per batch. Compaction gets its own child
    span by wrapping the public ``incremental.compact_state_delta`` for
    the length of the chain (``process_append_batch`` looks it up at
    call time). Bytes written under the root are counted per batch.

    ``incremental.incremental_candidate_pairs`` is wrapped the same way
    to count the dropped buckets it flags ``base_kept_divergence``: the
    documented case in which the chain's labels may differ from one
    ``dedupe()`` over everything. The count runs in a child span of its
    own, so it is left out of ``append``'s self time and jobs."""
    import deduplidog_spark.incremental as inc
    from deduplidog_spark.streaming.incremental import process_append_batch

    orig = inc.compact_state_delta
    orig_pairs = inc.incremental_candidate_pairs

    def compact(*args, **kwargs):
        with tr.span("append.compact"):
            return orig(*args, **kwargs)

    def pairs(*args, **kwargs):
        res = orig_pairs(*args, **kwargs)
        with tr.span("append.divergence"):
            flagged = res[1].filter(F.col("base_kept_divergence")).count()
        tr.count("append.divergent_buckets", flagged)
        return res

    inc.compact_state_delta = compact
    inc.incremental_candidate_pairs = pairs
    try:
        for batch_id, batch in enumerate(batches):
            before = _tree(root)
            with tr.span("append"):
                process_append_batch(
                    batch, cfg, root, batch_id,
                    state_layout="delta", compact_every=compact_every,
                )
            after = _tree(root)
            tr.count("append.batches", 1)
            tr.count(
                "append.state_write_bytes",
                sum(v[0] for p, v in after.items() if before.get(p) != v),
            )
    finally:
        inc.compact_state_delta = orig
        inc.incremental_candidate_pairs = orig_pairs
    tr.counts["append.state_files"] = len(_tree(root))
