"""Incremental index maintenance: delete / upsert / compact.

The Spark analog of the reference's incremental update surface
(reference engine/src/main/java/org/search/engine/index/
DocumentRemoveTask.java:40-58, DocumentUpdateTask.java:40-83 and the
tree's removeByValue, tree/SearchEngineConcurrentTree.java:270-280 —
SURVEY.md §2.3 O4-O7), redesigned for immutable distributed storage as
segments + tombstones + manifest swap (the Lucene/Iceberg pattern):

  * ``delete_docs``  — write a tombstone list; NO data files are
    touched. Queries filter tombstones at score time; corpus stats
    (N, total_dl) are corrected exactly at delete time from integer
    totals. Cost: O(|deleted|), not O(index).
  * ``upsert_docs``  — build a NEW segment from only the new/changed
    documents (tokenize + aggregate + encode just those docs — the
    partition-level rebuild of SURVEY.md O7), tombstone the replaced
    doc_ids, and publish a manifest listing old segments + the new one.
    New doc_ids start at a fresh chunk boundary, so chunk-level state
    (doclens, postings chunks) never collides across segments.
  * ``compact``      — the segment-merge stage: rewrite postings
    dropping tombstoned docs (decode → filter → re-encode, only for
    chunks that actually contain tombstones — untouched rows pass
    through as opaque bytes), recompute exact per-term df, and publish
    a single-segment index with zero tombstones.

Staleness contract (identical to Lucene's): between a delete and the
next compact, match SETS are exact (tombstones filter every query) but
per-term ``df`` still counts tombstoned docs, so BM25 scores can differ
from a fresh rebuild by the df drift; ``compact`` restores exactness.
Tests pin both properties (tests/test_maintain.py).

Every operation writes a NEW index directory (copy-on-write at the
directory level, data shared by reference) and commits it atomically
via the manifest rename — readers of the old index are never disturbed.
"""

from __future__ import annotations

import os
import time
from typing import Iterable, List, Optional, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .build import BLOCKS_SCHEMA, PLISTS_SCHEMA, build_index
from .checkpoint import BuildManifest
from .codec import decode_blocks, encode_blocks
from .ids import with_doc_ids
from .stats import CorpusStats

DELETES_SUB = "deletes"
SEGMENTS_SUB = "segments"

# Tombstone lists up to this many ids are written as ONE parquet file
# (queries broadcast the whole list; a single file is optimal while
# |deletes| << |docs|). Past it, the write shards by doc_id range so
# the union never funnels through one task — the reader is unchanged
# (it reads the directory; query.py already gates broadcast-vs-join on
# _DELS_CACHE_CAP).
TOMBSTONE_SHARD_DOCS = 1 << 22  # ~4M ids ≈ 32 MB of int64

# broadcast gate for per-chunk tombstone joins (same rationale and cap
# as query.py's _DELS_BROADCAST_CAP): compact runs exactly when the
# tombstone set is at its largest, so forcing the broadcast would pull
# cluster-scale state onto the driver at the worst possible moment
_DELS_BROADCAST_CAP = 5_000_000


def _write_tombstones(all_dels: DataFrame, dels_out: str, n_total: int) -> int:
    """Write the merged tombstone list, sharding by doc_id range once
    it outgrows a single task's comfortable share. Returns the shard
    count (recorded in the manifest for observability)."""
    shards = max(1, -(-n_total // TOMBSTONE_SHARD_DOCS))
    if shards == 1:
        all_dels.repartition(1).write.mode("overwrite").parquet(dels_out)
    else:
        (
            all_dels.repartitionByRange(shards, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(dels_out)
        )
    return shards


# ------------------------------------------------------------- helpers


def _load_committed(index_dir: str) -> BuildManifest:
    m = BuildManifest.load(index_dir)
    if m is None:
        raise FileNotFoundError(f"no committed manifest.json under {index_dir}")
    return m


def _check_out_dir(out_dir: str, index_dir: str, segs: List[str]) -> None:
    """REFUSE an out_dir aliasing the source index or any segment root:
    every maintenance op lazily reads the source while writing the
    output, so a self-overwrite either aborts mid-write ('cannot
    overwrite a path being read from') after clobbering files, or
    silently loses state (merge.py carries the same guard)."""
    out_abs = os.path.abspath(out_dir)
    for src in [os.path.abspath(index_dir), *segs]:
        if out_abs == src:
            raise ValueError(
                f"out_dir {out_dir!r} aliases source index path {src!r}; "
                "maintenance publishes a NEW generation directory"
            )


def _filter_block_rows(blks, drop, block_size):
    """Decode ``blks``, drop postings whose doc_id ∈ ``drop``, re-encode.
    Returns (n_docs, sum_tf, max_tf, out_blocks, rem_ids, rem_tfs) —
    the shared kernel of delete_term_postings' and compact's rewrite
    UDFs (one copy; a codec change lands once)."""
    ids, tfs = decode_blocks(blks)
    hit = np.isin(ids, drop)
    r_ids, r_tfs = ids[hit], tfs[hit]
    ids, tfs = ids[~hit], tfs[~hit]
    if ids.size == 0:
        return 0, 0, 0, [], r_ids, r_tfs
    enc = encode_blocks(ids, tfs, block_size=block_size)
    out_blocks = [
        {
            "first_doc": e[0], "last_doc": e[1], "n": e[2],
            "max_tf": e[3], "deltas": e[4], "tfs": e[5],
        }
        for e in enc
    ]
    return (
        int(ids.size), int(tfs.sum()), int(tfs.max()), out_blocks,
        r_ids, r_tfs,
    )


def _segments(m: BuildManifest, index_dir: str) -> List[str]:
    return [os.path.abspath(p) for p in m.config.get("segments", [index_dir])]


def _multi(spark: SparkSession, segs: List[str], sub: str) -> DataFrame:
    # per-root reads unioned (partition discovery is per segment root)
    dfs = [spark.read.parquet(os.path.join(s, sub)) for s in segs]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _as_ids_df(
    spark: SparkSession, doc_ids: Union[DataFrame, Iterable[int]]
) -> DataFrame:
    if isinstance(doc_ids, DataFrame):
        return doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
    return spark.createDataFrame(
        [(int(i),) for i in doc_ids], "doc_id long"
    )


def _deleted_dl_sum(
    spark: SparkSession, segs: List[str], dels: DataFrame, span: int
) -> int:
    """Exact Σ dl over the tombstoned ids, by decoding only the doclens
    chunks that contain them (pandas UDF over packed int32 arrays)."""
    by_chunk = (
        dels.select(
            (F.col("doc_id") / span).cast("long").alias("chunk"),
            (F.col("doc_id") % span).alias("pos"),
        )
        .groupBy("chunk")
        .agg(F.sort_array(F.collect_list("pos")).alias("pos"))
    )

    @F.pandas_udf("long")
    def sum_at(dls: pd.Series, pos: pd.Series) -> pd.Series:
        out = []
        for buf, p in zip(dls, pos):
            arr = np.frombuffer(buf, dtype=np.int32)
            idx = np.asarray(p, dtype=np.int64)
            idx = idx[(idx >= 0) & (idx < arr.size)]
            out.append(int(arr[idx].sum()))
        return pd.Series(out, dtype="int64")

    joined = _multi(spark, segs, "doclens").join(by_chunk, "chunk")
    row = joined.select(sum_at("dls", "pos").alias("s")).agg(
        F.sum("s").alias("t")
    ).collect()[0]
    return int(row["t"] or 0)


def _exact_stats(m: BuildManifest, spark, segs: List[str]) -> CorpusStats:
    s = CorpusStats.from_dict(m.stats)
    if s.total_dl >= 0:
        return s
    # pre-v2 manifest: recompute the integer total from docs metadata
    row = _multi(spark, segs, "docs").agg(F.sum("dl").alias("t")).collect()[0]
    return CorpusStats(s.n_docs, s.avgdl, int(row["t"] or 0))


# -------------------------------------------------------------- delete


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    doc_ids: Union[DataFrame, Iterable[int]],
) -> BuildManifest:
    """Tombstone ``doc_ids`` and publish a new index at ``out_dir``
    sharing every data file of ``index_dir``. O(|deleted|) work."""
    m = _load_committed(index_dir)
    segs = _segments(m, index_dir)
    _check_out_dir(out_dir, index_dir, segs)
    span = int(m.config["chunk_span"])
    t0 = time.time()

    ids = _as_ids_df(spark, doc_ids)
    live_docs = _multi(spark, segs, "docs").select("doc_id")
    old_dels_dir = m.config.get("deletes_dir")
    if old_dels_dir:
        old = spark.read.parquet(old_dels_dir)
        live = live_docs.join(old, "doc_id", "left_anti")
    else:
        old = None
        live = live_docs
    new_dels = ids.join(live, "doc_id", "left_semi").distinct()
    n_new = new_dels.count()

    stats = _exact_stats(m, spark, segs)
    removed_dl = (
        _deleted_dl_sum(spark, segs, new_dels, span) if n_new else 0
    )

    dels_out = os.path.join(os.path.abspath(out_dir), DELETES_SUB)
    all_dels = new_dels if old is None else old.union(new_dels).distinct()
    n_old = int(m.config.get("n_tombstones") or 0)
    if old is not None and "n_tombstones" not in m.config:
        n_old = old.count()
    n_tomb = n_old + n_new
    shards = _write_tombstones(all_dels, dels_out, n_tomb)

    out = BuildManifest(out_dir)
    out.config = {
        **m.config,
        "segments": segs,
        "deletes_dir": dels_out,
        "n_tombstones": n_tomb,
    }
    out.stats = CorpusStats.combine(
        stats.n_docs - n_new, stats.total_dl - removed_dl
    ).to_dict()
    if "n_terms" in (m.stats or {}):
        # deletes never touch the terms directories — carry the count
        # so readers keep the probe-free dictionary-cache gate
        out.stats["n_terms"] = m.stats["n_terms"]
    out.record_stage(
        "delete", fingerprint=f"dels+{n_new}", n_deleted=n_new,
        removed_dl=removed_dl, tombstone_shards=shards,
        wall_s=time.time() - t0,
    )
    out.commit()
    return out


# -------------------------------------------------------------- upsert


def upsert_docs(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    new_docs: DataFrame,
    num_partitions: Optional[int] = None,
) -> BuildManifest:
    """Add or replace documents (identity key: repo, path). Builds one
    new segment from only ``new_docs`` — the reference's per-document
    incremental diff (DocumentUpdateTask.java:40-83) generalized to a
    batch — and tombstones superseded doc_ids. Cost: O(|new batch|)."""
    m = _load_committed(index_dir)
    segs = _segments(m, index_dir)
    _check_out_dir(out_dir, index_dir, segs)
    cfg = m.config
    span = int(cfg["chunk_span"])
    t0 = time.time()

    # 1. which live docs does this batch replace?
    live = _multi(spark, segs, "docs").select("doc_id", "repo", "path")
    old_dels_dir = cfg.get("deletes_dir")
    old_dels = spark.read.parquet(old_dels_dir) if old_dels_dir else None
    if old_dels is not None:
        live = live.join(old_dels, "doc_id", "left_anti")
    replaced = live.join(
        new_docs.select("repo", "path").distinct(), ["repo", "path"]
    ).select("doc_id").distinct()
    n_replaced = replaced.count()
    removed_dl = (
        _deleted_dl_sum(spark, segs, replaced, span) if n_replaced else 0
    )

    # 2. new segment at a fresh chunk boundary (id spaces never collide)
    max_chunk = _multi(spark, segs, "doclens").agg(
        F.max("chunk").alias("c")
    ).collect()[0]["c"]
    base = (int(max_chunk) + 1) * span
    if "doc_id" in new_docs.columns:
        # pre-assigned ids must live past the fresh chunk boundary —
        # a batch still carrying ids from a prior with_doc_ids run
        # would reuse existing chunk ids (doubled doclens rows) AND be
        # filtered by the very tombstones this upsert writes for the
        # replaced docs, silently vanishing from every query
        low = new_docs.agg(F.min("doc_id").alias("m")).collect()[0]["m"]
        if low is not None and int(low) < base:
            raise ValueError(
                f"new_docs carries doc_id {int(low)} below the index's "
                f"fresh-chunk boundary {base}; drop the doc_id column "
                "(ids are assigned here) or assign ids >= the boundary"
            )
        with_ids = new_docs
    else:
        with_ids = with_doc_ids(new_docs, num_partitions, start=base)
    seg_dir = os.path.join(
        os.path.abspath(out_dir), SEGMENTS_SUB, f"seg-{len(segs)}"
    )
    seg_manifest = build_index(
        spark,
        with_ids,
        seg_dir,
        num_buckets=int(cfg["num_buckets"]),
        chunk_span=span,
        block_size=int(cfg.get("block_size", 128)),
        tokenizer=cfg.get("tokenizer", "standard"),
        # positional base index -> positional segment, so the unioned
        # postings schema stays consistent and phrase queries keep the
        # content-free path across upserts
        positions=bool(cfg.get("positions", False)),
    )
    seg_stats = CorpusStats.from_dict(seg_manifest.stats)

    # 3. merged tombstones + exact combined stats
    dels_out = os.path.join(os.path.abspath(out_dir), DELETES_SUB)
    all_dels = (
        replaced if old_dels is None else old_dels.union(replaced).distinct()
    )
    n_old = int(cfg.get("n_tombstones") or 0)
    if old_dels is not None and "n_tombstones" not in cfg:
        n_old = old_dels.count()
    n_tomb = n_old + n_replaced
    shards = _write_tombstones(all_dels, dels_out, n_tomb)

    stats = _exact_stats(m, spark, segs)
    out = BuildManifest(out_dir)
    out.config = {
        **cfg,
        "segments": segs + [seg_dir],
        "deletes_dir": dels_out,
        "n_tombstones": n_tomb,
    }
    out.stats = CorpusStats.combine(
        stats.n_docs - n_replaced + seg_stats.n_docs,
        stats.total_dl - removed_dl + seg_stats.total_dl,
    ).to_dict()
    out.record_stage(
        "upsert",
        fingerprint=f"seg-{len(segs)}",
        n_new=seg_stats.n_docs,
        n_replaced=n_replaced,
        tombstone_shards=shards,
        wall_s=time.time() - t0,
    )
    out.commit()
    return out


def upsert_file(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    corpus: DataFrame,
    repo: str,
    path: str,
    commit: Optional[str] = None,
) -> BuildManifest:
    """S2 single-file (re)index: fold exactly one file of the corpus
    table into the index — the reference's index-one-file entry point
    (reference SearchEngine.java:60-66, DocumentIndexTask) expressed as
    a one-row upsert. The (repo, path) slice is predicate-pushed into
    the corpus scan (corpus.single_file); everything downstream is the
    ordinary O(|batch|=1) segment upsert."""
    from .corpus import single_file

    batch = single_file(corpus, repo, path, commit)
    if not batch.take(1):
        raise ValueError(f"no corpus row for ({repo!r}, {path!r})")
    return upsert_docs(spark, index_dir, out_dir, batch)


# ----------------------------------------- per-(term, doc) delete (O4)


def delete_term_postings(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    pairs: Union[DataFrame, Iterable[tuple]],
) -> BuildManifest:
    """Remove specific (term, doc_id) postings — the analog of the
    reference's per-key removeByValue (reference
    tree/SearchEngineConcurrentTree.java:239-264): "remove this term
    from this doc" without tombstoning the whole document.

    Targeted chunk rewrite: only postings rows whose (term, chunk)
    matches a requested pair are decoded/filtered/re-encoded; every
    other row passes through as opaque bytes (no decode). The doc's
    stored ``dl`` and the packed doclens arrays are decremented by the
    removed tf and corpus ``total_dl`` is corrected exactly, so the
    result is score-identical to an index built over a corpus in which
    those term occurrences never existed (pinned by
    tests/test_maintain.py). Publishes a fresh single-segment index;
    existing doc-level tombstones carry over untouched."""
    m = _load_committed(index_dir)
    segs = _segments(m, index_dir)
    _check_out_dir(out_dir, index_dir, segs)
    cfg = m.config
    span = int(cfg["chunk_span"])
    block_size = int(cfg.get("block_size", 128))
    num_buckets = int(cfg["num_buckets"])
    t0 = time.time()
    out_abs = os.path.abspath(out_dir)

    if not isinstance(pairs, DataFrame):
        pairs = spark.createDataFrame(
            [(str(t), int(d)) for t, d in pairs], "term string, doc_id long"
        )
    pairs = pairs.select(
        "term", F.col("doc_id").cast("long").alias("doc_id")
    ).distinct()
    old_dels_dir = cfg.get("deletes_dir")
    if old_dels_dir:
        # pairs of already-TOMBSTONED docs are skipped: their postings
        # are physically present but inert (filtered at query time) and
        # their full dl was ALREADY subtracted from the stats at delete
        # time — removing them here would subtract the tf a second time
        # and skew avgdl for every later score. compact reclaims them.
        pairs = pairs.join(
            spark.read.parquet(old_dels_dir), "doc_id", "left_anti"
        )
    tdel = (
        pairs.withColumn("chunk", (F.col("doc_id") / span).cast("long"))
        .groupBy("term", "chunk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_tdel"))
    )

    posts = _multi(spark, segs, "postings").join(
        F.broadcast(tdel), ["term", "chunk"], "left"
    )
    # touched/untouched split: only rows whose (term, chunk) actually
    # holds a requested pair enter the Python rewrite — every other
    # row's encoded bytes stay JVM-side (the previous single-plan
    # F.when() form shipped the ENTIRE index's blocks through Arrow to
    # emit discarded sentinels for a surgical few-pair delete)
    touched = posts.where(F.col("_tdel").isNotNull())
    untouched = posts.where(F.col("_tdel").isNull())

    @F.pandas_udf(
        f"struct<n_docs: long, sum_tf: long, max_tf: int, removed: long, "
        f"removed_ids: array<long>, removed_tfs: array<long>, "
        f"blocks: {BLOCKS_SCHEMA}>"
    )
    def rewrite(blocks: pd.Series, dels_col: pd.Series) -> pd.DataFrame:
        n_docs, sum_tf, max_tf = [], [], []
        removed, removed_ids, removed_tfs, out_blocks = [], [], [], []
        for blks, dl in zip(blocks, dels_col):
            drop = np.asarray(dl, dtype=np.int64)
            nd, st, mt, blocks_out, r_ids, r_tfs = _filter_block_rows(
                blks, drop, block_size
            )
            n_docs.append(nd)
            sum_tf.append(st)
            max_tf.append(mt)
            out_blocks.append(blocks_out)
            removed.append(int(r_tfs.sum()))
            removed_ids.append([int(x) for x in r_ids])
            removed_tfs.append([int(x) for x in r_tfs])
        return pd.DataFrame(
            {
                "n_docs": pd.Series(n_docs, dtype="int64"),
                "sum_tf": pd.Series(sum_tf, dtype="int64"),
                "max_tf": pd.Series(max_tf, dtype="int32"),
                "removed": pd.Series(removed, dtype="int64"),
                "removed_ids": removed_ids,
                "removed_tfs": removed_tfs,
                "blocks": out_blocks,
            }
        )

    rw = touched.withColumn("_rw", rewrite(F.col("blocks"), F.col("_tdel")))

    # (doc_id, removed tf) of every surgically removed posting — needed
    # to correct dl arrays, docs.dl, and total_dl exactly. Only touched
    # rows carry entries, so this stays O(|pairs|).
    removed_by_doc = (
        rw.where(F.col("_rw.removed") > 0)
        .select(
            F.explode(
                F.arrays_zip(
                    F.col("_rw.removed_ids").alias("doc_id"),
                    F.col("_rw.removed_tfs").alias("tf"),
                )
            ).alias("z")
        )
        .select(
            F.col("z.doc_id").cast("long").alias("doc_id"),
            F.col("z.tf").cast("long").alias("tf"),
        )
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("_rm_dl"))
    )
    removed_rows = removed_by_doc.collect()  # bounded by |pairs|
    removed_total = sum(int(r["_rm_dl"]) for r in removed_rows)
    rm_by_chunk: dict = {}
    for r in removed_rows:
        i = int(r["doc_id"])
        rm_by_chunk.setdefault(i // span, []).append((i, int(r["_rm_dl"])))

    has_plists = "plists" in posts.columns
    base_cols = ["bucket", "term", "chunk", "n_docs", "sum_tf", "max_tf",
                 "blocks", *(["plists"] if has_plists else [])]
    new_touched = (
        rw.select(
            "bucket",
            "term",
            "chunk",
            F.col("_rw.n_docs").alias("n_docs"),
            F.col("_rw.sum_tf").alias("sum_tf"),
            F.col("_rw.max_tf").alias("max_tf"),
            F.col("_rw.blocks").alias("blocks"),
            # positional indexes: plists pass through UNCHANGED. An
            # entry whose (term, doc) pair was just removed from blocks
            # is stale-but-inert by the plists contract (build.py
            # PLISTS_SCHEMA): phrase candidates derive from blocks, and
            # the positional scan semi-joins plists on candidates, so a
            # doc that no longer matches this term can never surface
            # its stale positions. compact() reclaims the bytes.
            *(["plists"] if has_plists else []),
        )
        .where(F.col("n_docs") > 0)
    )
    new_posts = untouched.select(*base_cols).unionByName(new_touched)
    (
        new_posts.repartition(num_buckets, "bucket")
        .sortWithinPartitions("term", "chunk")
        .write.mode("overwrite")
        .option("compression", "uncompressed")
        .partitionBy("bucket")
        .parquet(os.path.join(out_abs, "postings"))
    )

    # terms: exact df/cf from the rewritten postings metadata
    terms = spark.read.parquet(os.path.join(out_abs, "postings")).groupBy(
        "term"
    ).agg(
        F.sum("n_docs").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        F.first("bucket").alias("bucket"),
    )
    nparts = max(1, min(num_buckets, spark.sparkContext.defaultParallelism))
    # n_terms rides the write (build.py's Observation pattern) instead
    # of a read-back count job over the terms directory
    obs_t = Observation("delete_terms_stats")
    (
        terms.repartitionByRange(nparts, "term")
        .observe(obs_t, F.count(F.lit(1)).alias("n"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(out_abs, "terms"))
    )
    n_terms = int(obs_t.get["n"])

    # docs: decrement dl of affected docs (identity otherwise). The
    # patch is fed from the ALREADY-COLLECTED rows — re-joining the
    # removed_by_doc plan here would run the decode pipeline a third
    # time (once for the collect, once for the postings write).
    docs = _multi(spark, segs, "docs")
    if removed_rows:
        patch_doc = spark.createDataFrame(
            [(int(r["doc_id"]), int(r["_rm_dl"])) for r in removed_rows],
            "doc_id long, _rm_dl long",
        )
        docs = docs.join(F.broadcast(patch_doc), "doc_id", "left").select(
            "doc_id", "repo", "path", "commit", "lang", "content_sha256",
            (F.col("dl") - F.coalesce(F.col("_rm_dl"), F.lit(0)))
            .cast("int").alias("dl"),
        )
    parts = spark.sparkContext.defaultParallelism
    (
        docs.repartitionByRange(parts, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_abs, "docs"))
    )

    # doclens: patch only the chunks that lost occurrences
    doclens = _multi(spark, segs, "doclens")
    if rm_by_chunk:
        patch_df = spark.createDataFrame(
            [
                (int(c), [i for i, _ in v], [t for _, t in v])
                for c, v in rm_by_chunk.items()
            ],
            "chunk long, _ids array<long>, _rm array<long>",
        )

        @F.pandas_udf("binary")
        def patch(dls: pd.Series, ids: pd.Series, rm: pd.Series) -> pd.Series:
            out = []
            for buf, i, r in zip(dls, ids, rm):
                if i is None or len(i) == 0:
                    out.append(buf)
                    continue
                arr = np.frombuffer(buf, dtype=np.int32).copy()
                pos = np.asarray(i, dtype=np.int64) % span
                ok = (pos >= 0) & (pos < arr.size)
                arr[pos[ok]] -= np.asarray(r, dtype=np.int64)[ok].astype(
                    np.int32
                )
                out.append(arr.tobytes())
            return pd.Series(out)

        doclens = doclens.join(F.broadcast(patch_df), "chunk", "left").select(
            "chunk", patch(F.col("dls"), F.col("_ids"), F.col("_rm")).alias("dls")
        )
    doclens.write.mode("overwrite").option(
        "compression", "uncompressed"
    ).parquet(os.path.join(out_abs, "doclens"))

    stats = _exact_stats(m, spark, segs)
    out = BuildManifest(out_dir)
    out.config = {k: v for k, v in cfg.items() if k != "segments"}
    out.stats = {
        **CorpusStats.combine(
            stats.n_docs, stats.total_dl - removed_total
        ).to_dict(),
        "n_terms": n_terms,
    }
    out.record_stage(
        "delete_terms",
        fingerprint=f"tdel+{removed_total}",
        removed_tf=removed_total,
        wall_s=time.time() - t0,
    )
    out.commit()
    return out


# ------------------------------------------------------------- compact


def compact(
    spark: SparkSession, index_dir: str, out_dir: str
) -> BuildManifest:
    """Segment merge: fold all segments + tombstones into one fresh
    single-segment index with exact per-term df — WITHOUT re-reading or
    re-tokenizing any document content. Posting rows in chunks that
    contain no tombstone pass through as opaque bytes; only tombstoned
    chunks are decoded, filtered and re-encoded (a pandas UDF over the
    block arrays). This is the merge stage of SURVEY.md §3.2's build
    lifecycle, run standalone."""
    m = _load_committed(index_dir)
    segs = _segments(m, index_dir)
    _check_out_dir(out_dir, index_dir, segs)
    cfg = m.config
    span = int(cfg["chunk_span"])
    block_size = int(cfg.get("block_size", 128))
    num_buckets = int(cfg["num_buckets"])
    t0 = time.time()
    out_abs = os.path.abspath(out_dir)

    dels_dir = cfg.get("deletes_dir")
    dels = spark.read.parquet(dels_dir) if dels_dir else None
    dels_by_chunk = None
    if dels is not None:
        dels_by_chunk = (
            dels.select(
                (F.col("doc_id") / span).cast("long").alias("chunk"),
                "doc_id",
            )
            .groupBy("chunk")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("_dels"))
        )
        # compact runs exactly when tombstones are at their largest —
        # broadcast only when the manifest proves the set bounded;
        # past the cap the chunk joins stay distributed shuffles
        n_tomb = cfg.get("n_tombstones")
        if n_tomb is not None and int(n_tomb) <= _DELS_BROADCAST_CAP:
            dels_by_chunk = F.broadcast(dels_by_chunk)

    # ---- postings: pass-through or decode/filter/re-encode per row
    posts = _multi(spark, segs, "postings")
    has_plists = "plists" in posts.columns
    if dels_by_chunk is not None:
        posts = posts.join(dels_by_chunk, "chunk", "left")
        # touched/untouched split: rows in tombstone-free chunks never
        # enter Python — their encoded bytes stay JVM-side
        untouched = posts.where(F.col("_dels").isNull())
        touched = posts.where(F.col("_dels").isNotNull())

        if has_plists:
            # positional indexes: compact is where stale plists bytes
            # (tombstoned docs) are reclaimed — entries are dropped by
            # embedded doc_id, untouched rows pass through as-is
            @F.pandas_udf(PLISTS_SCHEMA)
            def filter_plists(
                plists: pd.Series, dels_col: pd.Series
            ) -> pd.Series:
                out = []
                for pl, dl in zip(plists, dels_col):
                    if dl is None or len(dl) == 0 or pl is None:
                        out.append(pl)
                        continue
                    drop = set(int(x) for x in dl)
                    out.append(
                        [e for e in pl if int(e["doc_id"]) not in drop]
                    )
                return pd.Series(out)

        @F.pandas_udf(
            f"struct<n_docs: long, sum_tf: long, max_tf: int, blocks: {BLOCKS_SCHEMA}>"
        )
        def rewrite(blocks: pd.Series, dels_col: pd.Series) -> pd.DataFrame:
            n_docs, sum_tf, max_tf, out_blocks = [], [], [], []
            for blks, dl in zip(blocks, dels_col):
                drop = np.asarray(dl, dtype=np.int64)
                nd, st, mt, blocks_out, _, _ = _filter_block_rows(
                    blks, drop, block_size
                )
                n_docs.append(nd)
                sum_tf.append(st)
                max_tf.append(mt)
                out_blocks.append(blocks_out)
            return pd.DataFrame(
                {
                    "n_docs": pd.Series(n_docs, dtype="int64"),
                    "sum_tf": pd.Series(sum_tf, dtype="int64"),
                    "max_tf": pd.Series(max_tf, dtype="int32"),
                    "blocks": out_blocks,
                }
            )

        base_cols = [
            "bucket", "term", "chunk", "n_docs", "sum_tf", "max_tf",
            "blocks", *(["plists"] if has_plists else []),
        ]
        new_touched = (
            touched.withColumn(
                "_rw", rewrite(F.col("blocks"), F.col("_dels"))
            )
            .select(
                "bucket",
                "term",
                "chunk",
                F.col("_rw.n_docs").alias("n_docs"),
                F.col("_rw.sum_tf").alias("sum_tf"),
                F.col("_rw.max_tf").alias("max_tf"),
                F.col("_rw.blocks").alias("blocks"),
                *(
                    [
                        filter_plists(
                            F.col("plists"), F.col("_dels")
                        ).alias("plists")
                    ]
                    if has_plists
                    else []
                ),
            )
            .where(F.col("n_docs") > 0)
        )
        posts = untouched.select(*base_cols).unionByName(new_touched)
    else:
        posts = posts.select(
            "bucket", "term", "chunk", "n_docs", "sum_tf", "max_tf", "blocks",
            *(["plists"] if has_plists else []),
        )

    (
        posts.repartition(num_buckets, "bucket")
        .sortWithinPartitions("term", "chunk")
        .write.mode("overwrite")
        .option("compression", "uncompressed")  # blocks are varint-coded
        .partitionBy("bucket")
        .parquet(os.path.join(out_abs, "postings"))
    )

    # ---- terms: exact df from the rewritten postings
    new_posts = spark.read.parquet(os.path.join(out_abs, "postings"))
    terms = new_posts.groupBy("term").agg(
        F.sum("n_docs").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        F.first("bucket").alias("bucket"),
    )
    nparts = max(1, min(num_buckets, spark.sparkContext.defaultParallelism))
    # n_terms rides the write (build.py's Observation pattern), recorded
    # so readers gate the driver dictionary cache without a probe job
    obs_t = Observation("compact_terms_stats")
    (
        terms.repartitionByRange(nparts, "term")
        .observe(obs_t, F.count(F.lit(1)).alias("n"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(out_abs, "terms"))
    )
    n_terms = int(obs_t.get["n"])

    # ---- docs / doclens: filter tombstones (doclens entries of removed
    # docs are zeroed; gap positions are never referenced by postings)
    docs = _multi(spark, segs, "docs")
    if dels is not None:
        docs = docs.join(dels, "doc_id", "left_anti")
    parts = spark.sparkContext.defaultParallelism
    (
        docs.repartitionByRange(parts, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_abs, "docs"))
    )

    doclens = _multi(spark, segs, "doclens")
    if dels_by_chunk is not None:
        @F.pandas_udf("binary")
        def zero_at(dls: pd.Series, dels_col: pd.Series) -> pd.Series:
            out = []
            for buf, dl in zip(dls, dels_col):
                if dl is None or len(dl) == 0:
                    out.append(buf)
                    continue
                arr = np.frombuffer(buf, dtype=np.int32).copy()
                # doc_id -> position within this chunk
                ids = np.asarray(dl, dtype=np.int64)
                pos = ids % span
                pos = pos[(pos >= 0) & (pos < arr.size)]
                arr[pos] = 0
                out.append(arr.tobytes())
            return pd.Series(out)

        doclens = doclens.join(
            dels_by_chunk, "chunk", "left"  # broadcast-hinted iff gated
        ).select("chunk", zero_at(F.col("dls"), F.col("_dels")).alias("dls"))
    doclens.write.mode("overwrite").option(
        "compression", "uncompressed"
    ).parquet(os.path.join(out_abs, "doclens"))

    # ---- exact stats + fresh single-segment manifest
    row = spark.read.parquet(os.path.join(out_abs, "docs")).agg(
        F.count("*").alias("n"), F.sum("dl").alias("t")
    ).collect()[0]
    out = BuildManifest(out_dir)
    out.config = {
        k: v
        for k, v in cfg.items()
        if k not in ("segments", "deletes_dir", "n_tombstones")
    }
    out.stats = {
        **CorpusStats.combine(int(row["n"]), int(row["t"] or 0)).to_dict(),
        "n_terms": n_terms,
    }
    out.record_stage(
        "compact",
        fingerprint=f"{len(segs)}segs",
        n_docs=int(row["n"]),
        wall_s=time.time() - t0,
    )
    out.commit()
    return out
