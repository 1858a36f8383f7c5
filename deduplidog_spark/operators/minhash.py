"""MinHash signatures + LSH banding (SURVEY §2.4 J5, §2.11.1-2).

Replaces the reference's O(n·m) ignore_name cross join
(deduplidog.py:109-110,492) with the standard MinHash-LSH pipeline:

1. ``minhash_sig`` — Arrow-batched pandas UDF: char-k-shingle set →
   128-perm MinHash signature (numpy kernels in functions/hashing.py).
2. JVM-side banding — the signature array is sliced into B bands of r
   values and each band hashed with ``xxhash64``; pure built-in
   expressions (slice/transform/concat_ws/xxhash64) so banding stays
   inside whole-stage codegen, no second UDF.
3. ``posexplode`` bands → (band_id, band_hash) rows for the LSH
   equi-join (operators/candidates.py).

Two docs with shingle-Jaccard j collide in ≥1 band with probability
1-(1-j^r)^B; defaults (B=32, r=4) put the S-curve threshold near
(1/B)^(1/r) ≈ 0.42 — recall ≥0.99 at j ≥ 0.7 (north_rule).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from deduplidog_spark.config import DedupConfig
from deduplidog_spark.functions import hashing as H


def make_minhash_udf(cfg: DedupConfig):
    k = cfg.shingle_k
    max_size = cfg.hash_max_size
    num_perm = cfg.num_perm
    use_oph = cfg.minhash_impl == "oph"
    # classic-mode params precomputed once on the driver, shipped in
    # the closure (2·num_perm uint64 ≈ 2 KB), not regenerated per batch
    a, b = H.minhash_params(num_perm, cfg.seed)

    @pandas_udf(T.ArrayType(T.LongType()))
    def minhash_sig(content: pd.Series) -> pd.Series:
        out = []
        for text in content:
            if text is None or (max_size is not None and len(text) > max_size):
                out.append(None)  # F6 hash-cost gate → never similar
                continue
            if use_oph:
                # no np.unique: OPH's per-bin min is multiplicity-
                # insensitive, so the sort it paid bought nothing
                h = H.shingle_hashes_u64(text, k)
                out.append(H.oph_signature(h, num_perm))
            else:
                sh = H.shingle_set_u32(text, k)
                out.append(H.minhash_signature(sh, a, b))
        return pd.Series(out)

    # nondeterministic for the optimizer only (the kernel is pure): a
    # deterministic UDF lets the non-empty-array filter that explode
    # infers be pushed through the band projection and the
    # widen_small_scan repartition, evaluating the signature kernel a
    # second time below the repartition, on the narrow input
    return minhash_sig.asNondeterministic()


def with_signatures(files: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Adds ``sig`` (array<long>, num_perm wide). Gate rows through the
    F6 size filter before paying the UDF (SURVEY §4: compute signatures
    only for rows that enter the LSH stage)."""
    from deduplidog_spark.ingest import widen_small_scan

    return widen_small_scan(files).withColumn(
        "sig", make_minhash_udf(cfg)(F.col("content"))
    )


def banded_ingest_scan(raw: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Ingest + signatures + banding in ONE ``mapInPandas`` pass over
    the raw contract table — the minhash pipeline's scan stage (r6).

    Produces exactly the columns of ``ingest(raw, cfg)`` minus
    ``content`` plus ``band_hashes``. The content-derived values
    (size = UTF-8 octet length, n_lines = newline count + 1, sha =
    sha256 hex, the quarantine flag) are computed in the same Python
    batch that shingles and bands the content, so content never
    re-enters the JVM: a scalar pandas UDF over content evaluates
    content-bearing rows through ``ArrowEvalPython``, whose
    passthrough queue buffers every input row — content included —
    until its Python result returns, and the JVM then still pays
    sha256 + the line split. One pass, measured 5.4s → 1.8s for the
    200k-row bench scan stage, bit-identical rows (regression-pinned).

    The path-derived columns (filename/ext/stem/norm keys) and the
    row filters are the SAME Catalyst expressions as ``ingest`` —
    applied above the Python node, where content no longer exists —
    so K1-K6 normalization and F1-F4 filter semantics cannot drift.
    """
    from deduplidog_spark.ingest import (
        apply_row_filters,
        widen_small_scan,
        with_path_columns,
    )

    raw = widen_small_scan(raw)
    passthrough = [f for f in raw.schema.fields if f.name != "content"]
    names = [f.name for f in passthrough]
    schema = T.StructType(
        list(passthrough)
        + [
            T.StructField("size", T.LongType()),
            T.StructField("n_lines", T.LongType()),
            T.StructField("sha", T.StringType()),
            T.StructField("quarantined", T.BooleanType()),
            T.StructField("band_hashes", T.ArrayType(T.LongType())),
        ]
    )
    k = cfg.shingle_k
    max_size = cfg.hash_max_size
    num_perm = cfg.num_perm
    n_bands = cfg.lsh_bands
    n_rows = cfg.lsh_rows
    use_oph = cfg.minhash_impl == "oph"
    a, b = H.minhash_params(num_perm, cfg.seed)

    def gen(batches):
        import hashlib

        for pdf in batches:
            contents = pdf["content"].tolist()
            n = len(contents)
            size = [None] * n
            n_lines = [None] * n
            sha = [None] * n
            quar = [False] * n
            sigs = np.zeros((n, num_perm), dtype=np.int64)
            ok = np.zeros(n, dtype=bool)
            for i, text in enumerate(contents):
                if text is None:
                    quar[i] = True  # P2 quarantine: NULL stats, no bands
                    continue
                bts = text.encode("utf-8", "surrogatepass")
                size[i] = len(bts)
                n_lines[i] = text.count("\n") + 1
                sha[i] = hashlib.sha256(bts).hexdigest()
                if max_size is not None and len(text) > max_size:
                    continue  # F6 hash-cost gate → no bands
                if use_oph:
                    # no np.unique: OPH min is multiplicity-insensitive
                    h = H.shingle_hashes_u64(text, k)
                    sigs[i] = H.oph_signature(h, num_perm)
                else:
                    sh = H.shingle_set_u32(text, k)
                    sigs[i] = H.minhash_signature(sh, a, b)
                ok[i] = True
            bands = H.band_hashes_from_sigs(sigs, n_bands, n_rows)
            out = pd.DataFrame({nm: pdf[nm] for nm in names})
            out["size"] = pd.array(size, dtype="Int64")
            out["n_lines"] = pd.array(n_lines, dtype="Int64")
            out["sha"] = sha
            out["quarantined"] = quar
            out["band_hashes"] = [bands[i] if ok[i] else None for i in range(n)]
            yield out

    stats = raw.mapInPandas(gen, schema)
    return apply_row_filters(with_path_columns(stats, cfg), cfg)


def with_band_hashes(df: DataFrame, cfg: DedupConfig, sig_col: str = "sig") -> DataFrame:
    """JVM-side banding: band b = xxhash64(sig[b*r+1], …, sig[b*r+r]).

    The band count is a plan-time constant, so each band hash is a
    flat ``xxhash64`` over r long element lookups — no array slicing,
    no string building, stays in whole-stage codegen (the first
    version concat_ws'd stringified slices: ~4× slower per row)."""
    r = cfg.lsh_rows
    bands = F.array(
        *[
            F.xxhash64(
                *[F.element_at(F.col(sig_col), b * r + i + 1) for i in range(r)]
            )
            for b in range(cfg.lsh_bands)
        ]
    )
    # F6 gate / null content ⇒ sig is NULL; xxhash64(NULL,…,NULL) is a
    # CONSTANT, so without this guard every gated row would collide
    # into the same bucket in every band and be emitted as a mutual
    # duplicate. A NULL array yields no posexplode rows: gated rows are
    # excluded from near-dup candidates by construction.
    return df.withColumn(
        "band_hashes", F.when(F.col(sig_col).isNotNull(), bands)
    )


def explode_bands(df: DataFrame, id_col: str = "fid") -> DataFrame:
    """(band_id, band_hash, fid) rows — input to the LSH self-join."""
    return df.select(
        F.col(id_col),
        F.posexplode("band_hashes").alias("band_id", "band_hash"),
    )


def signature_agreement(sig_a, sig_b) -> "F.Column":
    """Estimated Jaccard = fraction of agreeing MinHash components —
    computed JVM-side with zip_with + aggregate (no UDF). Measured
    (700k synthetic 128-wide pairs, noop sink): this HOF form runs in
    ~1s; an unrolled 128-term comparison chain was 6× SLOWER — the
    generated method exceeds the codegen size limits and falls back to
    interpreted per-node evaluation of a 128-deep tree."""
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches.cast("double") / F.size(sig_a)
