"""Streaming near-duplicate detection over a document feed — the online
half of the MinHash-LSH dedup surface (the batch half is
``operators/dedup.py``; the exact streaming dedup is
``streaming/events.py::dedup_stream``).

Semantics (order-of-arrival first-wins, made oracle-exact by feeding
doc_id-ordered micro-batches): a document is flagged a near-duplicate iff
ANY of its MinHash band buckets already contains a document with a
smaller ``doc_id`` — i.e. ``is_dup(d) = ∃ bucket b ∋ d : min_id(b) <
d.id``, which a batch SQL twin expresses as a bucket-min join (the q227
oracle).  When micro-batches arrive in id order, the per-bucket running
minimum kept in the state store equals the global bucket minimum at each
document's arrival, so the streaming verdict is exactly the batch
verdict.

Design for an unbounded 100 TB-rate feed:

* **Signature computation is an Arrow-batched Python kernel**
  (``mapInPandas``), NOT the column-expression MinHash: higher-order
  lambdas are interpreted with no subexpression hoisting, so an
  expression-form signature (one ``array_min(transform(...))`` per hash
  seed) feeding 4 band keys re-tokenizes each document ~16× per band
  reference (measured 30× slowdown class), while the explode-shaped
  JVM path (``minhash_signatures``) needs a groupBy — an aggregation
  Spark cannot chain upstream of ``applyInPandasWithState``.  The kernel
  replicates the JVM/oracle hash bit-for-bit (md5-prefix base hash,
  affine family mod ``MINHASH_P``) and is pinned against the batch
  ``band_keys`` relation by ``tests/test_streaming_dedup.py``.
* **State is one 8-byte min-id per distinct (band, band_key) bucket** —
  the dedup-index lower bound.  Re-arrivals of duplicate content never
  grow state (the min is already held); state growth tracks DISTINCT
  corpus signatures, not event rate — the same rate-invariance contract
  q84/q97 are measured against in SCALING.md.
* Emission is eager per micro-batch (no watermark, no upstream
  aggregation → the chained-stateful sentinel hazard from NOTES.md round
  10 does not apply).

The reference has no streaming surface (SURVEY.md §2.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: schema of a parquet document feed directory (matches the
#: ``documents`` test table's (doc_id, text) projection).
DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_BAND_SCHEMA = "doc_id long, band int, band_key string"
_VOTE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dup_vote", T.IntegerType()),
    ]
)
_MIN_STATE_SCHEMA = T.StructType([T.StructField("min_id", T.LongType())])


def band_rows_kernel(num_hashes: int, bands: int, shingle_k: int):
    """``mapInPandas`` factory: (doc_id, text) batches → (doc_id, band,
    band_key) rows, one per (document, band); documents with fewer than
    ``shingle_k`` words emit nothing (undefined signature — the same
    omission as the explode-shaped batch path and NULL-key SQL oracle).

    Hash discipline (must stay bit-identical to
    ``operators/dedup.hash32`` / ``_sql_minhash_lsh``): base hash =
    ``int(md5(shingle)[:8 hex], 16) % MINHASH_P``; signature position i =
    ``min((a_i * h + b_i) % MINHASH_P)``; band key = md5 of the
    comma-joined decimal signature slice."""
    import hashlib

    from parquery_spark.operators.dedup import (
        MINHASH_P,
        minhash_coefficients,
    )

    coeffs = minhash_coefficients(num_hashes)
    rows_per_band = num_hashes // bands

    def fn(batches):
        import re

        import pandas as pd

        tok = re.compile(r"[^a-z0-9']+")
        for pdf in batches:
            out_id: list[int] = []
            out_band: list[int] = []
            out_key: list[str] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in tok.split((text or "").lower()) if w]
                if len(words) < shingle_k:
                    continue
                if shingle_k == 1:
                    shingles = set(words)
                else:
                    shingles = {
                        " ".join(words[i : i + shingle_k])
                        for i in range(len(words) - shingle_k + 1)
                    }
                hs = {
                    int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                    % MINHASH_P
                    for s in shingles
                }
                sig = [min((a * h + b) % MINHASH_P for h in hs) for a, b in coeffs]
                for b in range(bands):
                    key = hashlib.md5(
                        ",".join(
                            str(sig[b * rows_per_band + r])
                            for r in range(rows_per_band)
                        ).encode()
                    ).hexdigest()
                    out_id.append(int(doc_id))
                    out_band.append(b)
                    out_key.append(key)
            yield pd.DataFrame(
                {"doc_id": out_id, "band": out_band, "band_key": out_key}
            )

    return fn


def _bucket_min_fn(key, pdfs, state: GroupState):
    """Per-(band, band_key) stateful verdict: emit ``dup_vote=1`` for every
    document whose bucket already holds a smaller id (from a previous
    micro-batch via state, from the COMPACTED persistent index via the
    stream-static ``idx_min`` column, or earlier in this batch), else 0;
    state keeps only the running minimum id.

    ``idx_min`` is the bucket's minimum over everything already merged
    into the on-disk index (:func:`compact_minhash_index`) — constant
    per bucket, attached row-wise by the stream-static left join, null
    for buckets the index has never seen.  Seeding the running min with
    it makes a fresh (post-compaction) state store give exactly the
    verdicts the uncompacted state would have."""
    import pandas as pd

    if state.hasTimedOut:  # NoTimeout — never fires; defensive only
        state.remove()
        return
    ids: list[int] = []
    idx_min: int | None = None
    for pdf in pdfs:
        ids.extend(int(x) for x in pdf["doc_id"])
        if idx_min is None and "idx_min" in pdf.columns:
            nn = pdf["idx_min"].dropna()
            if len(nn):
                idx_min = int(nn.iloc[0])
    if not ids:
        return
    ids.sort()
    m = state.get[0] if state.exists else None
    if idx_min is not None:
        m = idx_min if m is None else min(m, idx_min)
    votes: list[int] = []
    for d in ids:
        votes.append(1 if (m is not None and m < d) else 0)
        if m is None or d < m:
            m = d
    state.update((m,))
    yield pd.DataFrame({"doc_id": ids, "dup_vote": votes})


def minhash_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 2,
    options: dict | None = None,
    parallelism: int | None = None,
    index_df: DataFrame | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup votes: one ``(doc_id, dup_vote)``
    row per (document, band); reduce with ``MAX(dup_vote)`` per doc for
    the any-band verdict (done batch-side on the drained sink — votes are
    independent facts, the reduction needs no streaming state).

    ``parallelism`` round-robin-repartitions each micro-batch BEFORE the
    signature kernel: a single-file micro-batch under
    ``maxPartitionBytes`` is one task, so the CPU-bound kernel runs
    serially (measured: 170 s for a 500 k-doc replay, ~0.34 ms/doc on
    one core).  The extra shuffle moves raw text once per batch —
    worth it whenever kernel time dominates shuffle time, i.e. on any
    compute-starved feed; a production source with many files per
    trigger already arrives split and can leave this unset.  Verdicts
    are partition-order independent (per-bucket state keys see the same
    rows), so the repartition never changes results.

    ``index_df`` is the persistent bucket-min index a prior
    :func:`compact_minhash_index` published: when given, banded rows are
    stream-static LEFT-joined to it (stateless, allowed upstream of the
    stateful op) so each bucket carries its already-compacted minimum —
    the state store then only accumulates buckets for documents arriving
    SINCE the last compaction, while the on-disk index carries the
    corpus.  That is the state-lifecycle contract (VERDICT r10 #2):
    in-memory state is bounded by the compaction interval, not corpus
    age."""
    reader = spark.readStream.schema(DOC_STREAM_SCHEMA)
    if options:
        reader = reader.options(**options)
    stream = reader.parquet(source_dir)
    if parallelism:
        stream = stream.repartition(parallelism)
    banded = stream.mapInPandas(
        band_rows_kernel(num_hashes, bands, shingle_k), _BAND_SCHEMA
    )
    if index_df is not None:
        banded = banded.join(
            index_df.select(
                "band", "band_key", F.col("min_id").alias("idx_min")
            ),
            ["band", "band_key"],
            "left",
        )
    return banded.groupBy("band", "band_key").applyInPandasWithState(
        _bucket_min_fn,
        outputStructType=_VOTE_SCHEMA,
        stateStructType=_MIN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def compact_minhash_index(
    spark: SparkSession,
    docs_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 2,
) -> str:
    """State→index compaction for the streaming fuzzy dedup (VERDICT r10
    #2): fold the per-bucket min-ids of an already-drained document
    increment into the persistent on-disk bucket-min index, so the
    stream can be restarted with a FRESH (evicted) state store that
    consults the index via ``index_df`` and still produces exactly the
    verdicts an ever-growing state would have.

    The increment is re-banded BATCH-side with the shared
    ``operators.dedup.band_keys`` machinery (bit-pinned to the streaming
    kernel by ``tests/test_streaming_dedup.py``), reduced to one
    ``(band, band_key, min_id)`` row per bucket, merged with the
    existing index by bucket-min, and published with a staging-dir
    atomic swap (never read-and-overwrite in one lazy plan — the
    overwrite would delete its own input files before computing).

    Lifecycle at scale: state rows between compactions ∝ distinct
    signatures in the interval; the index grows with the corpus but
    lives in storage, not executor memory, and its size is the bucket
    count, not the document count.  A crash between the two renames
    loses only the index — rebuildable from the corpus, never a
    correctness loss (verdicts before the rebuild are conservative:
    missing index rows can only under-vote buckets the state re-learns).

    Returns ``index_path``."""
    import shutil
    import uuid

    from parquery_spark.operators.dedup import band_keys

    bk = band_keys(docs_df, text_col, id_col, num_hashes, bands, shingle_k)
    mins = bk.groupBy("band", "band_key").agg(
        F.min(id_col).alias("min_id")
    )
    have_prev = os.path.exists(os.path.join(index_path, "_SUCCESS"))
    if have_prev:
        prev = spark.read.parquet(index_path)
        mins = (
            prev.unionByName(mins)
            .groupBy("band", "band_key")
            .agg(F.min("min_id").alias("min_id"))
        )
    nonce = uuid.uuid4().hex[:12]
    staging = f"{index_path}.staging-{nonce}"
    # band-partitioned write: the stream-static join and any probe read
    # both key on band first
    mins.repartition("band").write.mode("overwrite").parquet(staging)
    old = f"{index_path}.old-{nonce}"
    if os.path.exists(index_path):
        os.rename(index_path, old)
    os.rename(staging, index_path)
    shutil.rmtree(old, ignore_errors=True)
    return index_path
