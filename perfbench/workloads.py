"""The benchmark's workloads.

serve-hot   closed-loop search mix, two clients, over an index larger
            than the reader's dictionary cache, with hot terms whose
            postings take the distributed scoring path.
update-mix  upserts and deletes beside queries on a small index whose
            queries take the driver-local path; the traced run ends
            with one compact.

Each workload returns a Result: end-to-end figures measured with
tracing off, per-layer figures (meaningful in a traced run), the count
of checked operations and of failed ones, and a report of descriptors.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

from pyspark.sql import functions as F

from spark_search import maintain
from spark_search.build import build_index
from spark_search.checkpoint import BuildManifest
from spark_search.corpus import CORPUS_SCHEMA
from spark_search.oracle.bm25 import OracleEngine
from spark_search.progress import dir_bytes
from spark_search.query import IndexReader, search_group

from . import inputs

# serve-hot's closed-loop clients. One query alone keeps about two and a
# half of four cores busy; two keep them all busy, so the loop's figures
# follow the CPU the host gives rather than the wake-up latency of a
# half-idle machine, and a round holds two samples of every class.
CLIENTS = 2
from .inputs import K
from .measure import (
    JobCounter, LiveOracle, ProcSampler, Tracer, build_stage_metrics,
    codec_probe, host_steal_s, median, tail, topk_ok, tree_usage,
)


@dataclass
class Result:
    e2e: Dict[str, float] = field(default_factory=dict)
    layers: Dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    report: Dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    size: dict
    work: str  # scratch directory of this run
    nproc: int


def _fail(res: Result, what: str) -> None:
    res.failed += 1
    print(f"perfbench: wrong result: {what}", file=sys.stderr)


def _build(ctx: Ctx, tracer: Tracer, counter: JobCounter, corpus, path: str):
    """One build_index, traced with its manifest stages as children."""
    op = tracer.new_op()
    mark = counter.mark()
    t0 = time.time()
    manifest = build_index(ctx.spark, corpus, path)
    t1 = time.time()
    tracer.add(op, "op", t0, t1, 0)
    tracer.add(op, "build", t0, t1, 1)
    tracer.add_build_stages(op, manifest)
    jobs, _ = counter.since(mark)
    layers = build_stage_metrics(manifest, t1 - t0)
    layers["build.spark.jobs"] = float(jobs["jobs"])
    layers["build.spark.tasks"] = float(jobs["tasks"])
    return manifest, t1 - t0, layers


def _run_search(reader: IndexReader, q: inputs.Query):
    """The engine call and the collect, timed apart."""
    t0 = time.time()
    if q.batch:
        df = reader.search_many(dict(q.batch), mode=q.mode, k=K)
    else:
        df = reader.search(list(q.terms), q.mode, k=K)
    t1 = time.time()
    rows = df.collect()
    return rows, t0, t1, time.time()


def _check_query(q: inputs.Query, rows, oracle, expected) -> bool:
    if not q.batch:
        got = [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        return topk_ok(got, expected[q.qid], oracle, q.terms, q.mode)
    per: Dict[str, List] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        per.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return all(
        topk_ok(per.get(sub, []), expected[f"{q.qid}/{sub}"], oracle, terms, q.mode)
        for sub, terms in q.batch
    )


def _expected(pool, oracle) -> Dict[str, List[Tuple[int, float]]]:
    out = {}
    for q in pool:
        if q.batch:
            for sub, terms in q.batch:
                out[f"{q.qid}/{sub}"] = oracle.search(terms, q.mode, K)
        else:
            out[q.qid] = oracle.search(q.terms, q.mode, K)
    return out


def _index_ratio(index_dir: str, content_bytes: int) -> float:
    return dir_bytes(index_dir) / content_bytes


def _generation_bytes(reader: IndexReader, gen: str) -> int:
    """Bytes on disk of everything a generation reads: its own directory
    (manifest, tombstones) and each segment it lists."""
    roots = sorted({os.path.abspath(gen), *reader.segments})
    outer = [r for r in roots
             if not any(r != o and r.startswith(o + os.sep) for o in roots)]
    return sum(dir_bytes(r) for r in outer)


# ---------------------------------------------------------------- serve-hot


def serve_hot(ctx: Ctx) -> Result:
    res = Result()
    spark, size = ctx.spark, ctx.size
    tracer = Tracer(ctx.trace)
    counter = JobCounter(spark)
    t_setup = time.time()

    phases = {}
    corpus = inputs.hot_corpus(spark, ctx.seed, size)
    index = os.path.join(ctx.work, "hot-index")
    manifest, build_s, build_layers = _build(ctx, tracer, counter, corpus, index)
    phases["build"] = build_s
    # the oracle's copy of the corpus, read after the build so that the
    # build is the session's first Spark work in both workloads
    t = time.time()
    pdf = corpus.select("doc_id", "content").toPandas()
    docs = list(zip(pdf["doc_id"].tolist(), pdf["content"].tolist()))
    del pdf
    content_bytes = sum(len(c.encode()) for _, c in docs)
    phases["corpus"] = time.time() - t
    t = time.time()
    oracle = OracleEngine(docs)
    df = {t: len(p) for t, p in oracle.tf.items()}
    phases["oracle"] = time.time() - t
    t = time.time()
    pool = inputs.query_pool(ctx.seed, df, oracle.n)
    inputs_sha = inputs.digest(sorted(docs), pool)
    del docs
    expected = _expected(pool, oracle)
    phases["expected"] = time.time() - t
    reader = IndexReader(spark, index)

    # closed loop: each client sends its next query when its previous
    # one has returned, in rounds in which every client sends one query
    # of every class.
    # A traced run traces every query; the seconds spent on tracing
    # (Spark counts, spans) are the tracing overhead.
    samples: List[Tuple[str, float, float, float, Dict[str, int]]] = []
    errors: List[str] = []
    tracing: List[float] = []
    round_s: List[float] = []  # wall time of each timed round

    def one_round(r: int) -> list:
        """CLIENTS clients at once, each sending the pool's queries in
        turn, client c starting at class c * len(pool) / CLIENTS;
        returns the round's (query, rows) to check."""
        t_round = time.time()
        step = len(pool) // CLIENTS

        def client(c: int) -> list:
            answers = []
            for q in pool[c * step:] + pool[:c * step]:
                try:
                    with search_group(spark, f"loop-{r}-{c}-{q.qid}") as group:
                        rows, t0, t1, t2 = _run_search(reader, q)
                except Exception:  # a failed query counts, the loop goes on
                    errors.append(traceback.format_exc())
                    continue
                answers.append((q, rows))
                jobs = {}
                if ctx.trace:
                    jobs = counter.group(group)
                    op = tracer.new_op()
                    tracer.add(op, "op", t0, t2, 0)
                    tracer.add(op, "query.search_many" if q.batch else "query.call", t0, t1, 1)
                    tracer.add(op, "query.collect", t1, t2, 1)
                    tracing.append(time.time() - t2)
                samples.append((q.cls, t0, t1, t2, jobs))
            return answers

        res.attempted += CLIENTS * len(pool)
        with ThreadPoolExecutor(CLIENTS) as ex:
            answers = [a for got in ex.map(client, range(CLIENTS)) for a in got]
        round_s.append(time.time() - t_round)
        return answers

    def check(answers: list) -> None:
        for q, rows in answers:
            if not _check_query(q, rows, oracle, expected):
                errors.append(f"{q.qid} {q.terms or q.batch}")

    def warm_query(q: inputs.Query):
        try:
            return q, _run_search(reader, q)[0]
        except Exception:  # a failed query counts
            errors.append(traceback.format_exc())
            return q, None

    # warm-up: one query of every class, checked but not timed, sent
    # from nproc threads at once so that it costs little wall time; the
    # JIT compiles each path and the Python workers are forked before
    # timing
    t = time.time()
    res.attempted += len(pool)
    with ThreadPoolExecutor(ctx.nproc) as ex:
        check([a for a in ex.map(warm_query, pool) if a[1] is not None])
    phases["warm"] = time.time() - t
    setup_s = time.time() - t_setup

    # whole rounds until the deadline, so every class has the same
    # number of samples
    cpu0 = tree_usage()[1]
    steal0 = host_steal_s()
    t_loop = time.time()
    deadline = t_loop + ctx.seconds
    r = 1
    with ProcSampler() as sampler:
        while r == 1 or time.time() < deadline:
            check(one_round(r))
            r += 1
    cpu1 = tree_usage()[1]
    steal = host_steal_s() - steal0
    for e in errors:
        _fail(res, e)

    loop_s = max(t2 for *_, t2, _ in samples) - t_loop
    measured = [(c, t2 - t0) for c, t0, _, t2, _ in samples]
    lat = [x for _, x in measured]
    p50 = class_p50(measured)
    res.e2e = {
        "setup_s": setup_s,
        "op_p50_s": p50,
        "query_p50_s": p50,
        "queries_per_s": len(samples) / loop_s,
        "build_docs_per_s": size["hot_docs"] / build_s,
        "index_bytes_per_input_byte": _index_ratio(index, content_bytes),
    }
    tv, tp, tn = tail(lat)

    layers = dict(build_layers)
    layers.update(_query_layers(samples, pool, df))
    layers["index.terms"] = float(manifest.stats.get("n_terms", 0))
    layers["proc.peak_rss_mb"] = sampler.peak / 2**20
    layers["proc.cpu_s_per_op"] = (cpu1 - cpu0) / len(samples)
    if ctx.trace:
        layers.update(_codec(spark, index, pool))
        layers["trace.overhead_s"] = median(tracing)
    res.layers = layers
    res.report = {
        "inputs_sha": inputs_sha,
        "setup_phases": phases,
        "query_tail_s": tv, "query_tail_percentile": tp, "query_samples": tn,
        "query_p50_all_s": median(lat), "index_terms": manifest.stats.get("n_terms"),
        "class_p50_s": {c: median([x for k, x in measured if k == c]) for c in inputs.CLASSES},
        "dict_cached": reader._dict_state == 1,
        "round_s": round_s, "loop_steal_s": steal,
    }
    _finish_trace(ctx, tracer, res)
    return res


def class_p50(samples: List[Tuple[str, float]]) -> float:
    """Median latency of each query class, averaged over the classes.
    The classes differ in cost by up to 4x, so a plain median over the
    mix would fall in the gap between two classes and jump between them
    from run to run."""
    by: Dict[str, List[float]] = {}
    for c, x in samples:
        by.setdefault(c, []).append(x)
    return sum(median(xs) for xs in by.values()) / len(by) if by else 0.0


def _query_layers(samples, pool, df) -> Dict[str, float]:
    """query.* and spark.* figures of the loop's queries (Spark counts
    exist in a traced run only)."""
    out: Dict[str, float] = {
        "query.call_s": median([t1 - t0 for _, t0, t1, _, _ in samples]),
        "query.collect_s": median([t2 - t1 for _, _, t1, t2, _ in samples]),
    }
    counted = [(c, j) for c, *_, j in samples if j]
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}_per_query"] = class_p50([(c, j[key]) for c, j in counted])
    for cls in inputs.CLASSES:
        qs = [q for q in pool if q.cls == cls]
        out[f"query.{cls}.p50_s"] = median(
            [t2 - t0 for c, t0, _, t2, _ in samples if c == cls])
        out[f"query.{cls}.spark_jobs"] = median(
            [j["jobs"] for c, j in counted if c == cls])
        matched = [_matched(q, df) for q in qs]
        out[f"query.{cls}.matched_terms"] = sum(map(len, matched)) / len(qs)
        out[f"query.{cls}.sigma_df"] = sum(df[t] for m in matched for t in m) / len(qs)
    return out


def _matched(q: inputs.Query, df: Dict[str, int]) -> List[str]:
    """Dictionary terms a query reads: its terms, or a prefix's range,
    or the distinct terms of a batch."""
    if q.mode == inputs.START_WITH:
        return [t for t in df if t.startswith(q.terms[0])]
    terms = q.terms or tuple(t for _, ts in q.batch for t in ts)
    return [t for t in dict.fromkeys(terms) if t in df]


def _codec(spark, index: str, pool) -> Dict[str, float]:
    """Decode/encode cost on the index's own blocks of the hot terms."""
    hot = sorted({t for q in pool if q.cls == "or3" for t in q.terms})
    rows = (
        spark.read.parquet(os.path.join(index, "postings"))
        .where(F.col("term").isin(hot))
        .select(F.explode("blocks").alias("b"))
        .select("b.first_doc", "b.deltas", "b.tfs")
        .collect()
    )
    blocks = [(r["first_doc"], bytes(r["deltas"]), bytes(r["tfs"])) for r in rows]
    manifest = BuildManifest.load(index)
    return codec_probe(blocks, int(manifest.config.get("block_size", 128)))


def _finish_trace(ctx: Ctx, tracer: Tracer, res: Result) -> None:
    if not ctx.trace:
        return
    totals, per_op = tracer.self_times()
    for name, v in totals.items():
        res.layers[f"{name}.self_s"] = v
    shares = [layer / wall for wall, layer in per_op if wall > 0]
    res.layers["trace.layer_share_min"] = min(shares) if shares else 0.0
    res.layers["trace.ops"] = float(len(per_op))
    tracer.dump(ctx.work + ".spans.json")


# --------------------------------------------------------------- update-mix


def update_mix(ctx: Ctx) -> Result:
    res = Result()
    spark, size, seed = ctx.spark, ctx.size, ctx.seed
    tracer = Tracer(ctx.trace)
    counter = JobCounter(spark)
    t_setup = time.time()

    corpus = inputs.update_corpus(spark, seed, size)
    base = os.path.join(ctx.work, "gen-000")
    _, build_s, build_layers = _build(ctx, tracer, counter, corpus, base)
    phases = {"build": build_s}
    # live corpus: doc_id -> (repo, path, content)
    t = time.time()
    pdf = corpus.select("doc_id", "repo", "path", "content").toPandas()
    docs = {d: (r, p, c) for d, r, p, c in zip(
        pdf["doc_id"].tolist(), pdf["repo"], pdf["path"], pdf["content"])}
    del pdf
    phases["corpus"] = time.time() - t
    live = LiveOracle((d, v[2]) for d, v in docs.items())
    oracle = live.engine
    bands = inputs.df_bands({t: len(p) for t, p in oracle.tf.items()}, oracle.n)
    hot = inputs.hot_or_query(seed, bands)
    words = sorted(bands["hot"] + bands["warm"])
    gen, reader = base, IndexReader(spark, base)
    # warm-up: the hot query on the base index, checked against the oracle
    rows, *_ = _run_search(reader, hot)
    res.attempted += 1
    if not _check_query(hot, rows, oracle, {hot.qid: oracle.search(hot.terms, hot.mode, K)}):
        _fail(res, "hot query on the base index")
    setup_s = time.time() - t_setup

    dead: set = set()
    fresh_docs: Dict[str, List[int]] = {}  # fresh token -> its live docs
    visible: List[float] = []
    qlat: List[Tuple[str, float]] = []  # (class, latency)
    qjobs: List[Tuple[str, Dict[str, int]]] = []  # traced queries' Spark counts
    tracing: List[float] = []  # seconds spent tracing, per traced query
    layer: Dict[str, List[float]] = {k: [] for k in (
        "upsert", "delete", "open", "manifest", "call", "collect")}

    def query(q: inputs.Query, op: int = 0):
        """A timed query; when traced, its own operation unless ``op`` is
        the update it belongs to."""
        t = time.time()
        mark = counter.mark() if ctx.trace else 0
        rows, t0, t1, t2 = _run_search(reader, q)
        qlat.append((q.cls, t2 - t0))
        layer["call"].append(t1 - t0)
        layer["collect"].append(t2 - t1)
        if ctx.trace:
            qjobs.append((q.cls, counter.since(mark)[0]))
            if not op:
                op = tracer.new_op()
                tracer.add(op, "op", t0, t2, 0)
            tracer.add(op, "query.call", t0, t1, 1)
            tracer.add(op, "query.collect", t1, t2, 1)
            tracing.append(t0 - t + time.time() - t2)
        return [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]

    def publish(kind: str, n: int, write, visible_q: inputs.Query):
        """One write, the reader reopened on the new generation, and the
        first query whose answer shows the write; returns that answer."""
        nonlocal gen, reader
        out = os.path.join(ctx.work, f"gen-{n:03d}-{kind}")
        op = tracer.new_op() if ctx.trace else 0
        t0 = time.time()
        write(out)
        t1 = time.time()
        reader = IndexReader(spark, out)
        t2 = time.time()
        got = query(visible_q, op)
        t3 = time.time()
        gen = out
        visible.append(t3 - t0)
        layer[kind].append(t1 - t0)
        layer["open"].append(t2 - t1)
        if op:
            tracer.add(op, "op", t0, t3, 0)
            tracer.add(op, f"maintain.{kind}", t0, t1, 1)
            tracer.add(op, "query.reader_open", t1, t2, 1)
            if kind == "upsert":  # the new segment's own build stages
                tracer.add_build_stages(op, BuildManifest.load(reader.segments[-1]))
        t = time.time()
        BuildManifest.load(out)
        layer["manifest"].append(time.time() - t)
        return got

    def check_hot(when: str) -> None:
        got = query(hot)
        res.attempted += 1
        if len(got) != K or dead & {d for d, _ in got}:
            _fail(res, f"hot query {when} returned {got}")

    def check_fresh(token: str, got, when: str) -> None:
        res.attempted += 1
        if sorted(d for d, _ in got) != sorted(fresh_docs[token]):
            _fail(res, f"fresh token {token} {when}: {got}")

    def forget(ids) -> None:
        for d in ids:
            dead.add(d)
            live.remove(d)
            del docs[d]

    n = 0
    deadline = time.time() + ctx.seconds
    cpu0 = tree_usage()[1]
    with ProcSampler() as sampler:
        while n == 0 or time.time() < deadline:
            n += 1
            batch = inputs.update_batch(
                seed, n, size, words, {d: v[:2] for d, v in docs.items()})
            if n == 1:
                inputs_sha = inputs.digest(
                    sorted(docs.items()), hot, batch.new_rows, batch.replaced_ids)
            fq = inputs.Query(f"fresh{n}", "point", inputs.EXACT_MATCH,
                              (batch.fresh_token,))
            # batches arrive as files, as they would from an ingest job
            batch_dir = os.path.join(ctx.work, f"batch-{n:03d}")
            spark.createDataFrame(batch.new_rows, CORPUS_SCHEMA).write.parquet(batch_dir)
            new_df = spark.read.parquet(batch_dir)
            got = publish("upsert", n, lambda out: maintain.upsert_docs(
                spark, gen, out, new_df), fq)
            # the ids the engine gave the new documents, from the segment
            seg = spark.read.parquet(os.path.join(reader.segments[-1], "docs"))
            ids = {(r["repo"], r["path"]): r["doc_id"]
                   for r in seg.select("doc_id", "repo", "path").collect()}
            forget(batch.replaced_ids)
            fresh = []
            for repo, path, _, _, text in batch.new_rows:
                d = ids[(repo, path)]
                docs[d] = (repo, path, text)
                live.add(d, text)
                if batch.fresh_token in text.split():
                    fresh.append(d)
            fresh_docs[batch.fresh_token] = fresh
            check_fresh(batch.fresh_token, got, "after upsert")
            check_hot("after upsert")

            # delete the oracle's current top-3 for the hot query, one
            # fresh doc and seeded others, then check none comes back
            top3 = [d for d, _ in oracle.search(hot.terms, hot.mode, 3)]
            gone = inputs.delete_ids(seed, n, size, sorted(docs), top3 + fresh[:1])
            got = publish("delete", n, lambda out: maintain.delete_docs(
                spark, gen, out, gone), fq)
            forget(gone)
            # the seeded deletes may take further fresh docs
            fresh_docs[batch.fresh_token] = [d for d in fresh if d not in gone]
            check_fresh(batch.fresh_token, got, "after delete")
            check_hot("after delete")
        segments, tombstones = len(reader.segments), reader.n_tombstones or 0
        index_bytes = _generation_bytes(reader, gen)
        cpu1 = tree_usage()[1]
    loop_queries = list(qlat)

    # the traced run ends with one compact, then every query again,
    # checked against the oracle on the live corpus (df is exact again
    # after compact). Timed runs leave it out: it would add a fifth to
    # each run's wall time.
    compact: Dict[str, float] = {}
    if ctx.trace:
        compacted = os.path.join(ctx.work, "compacted")
        mark = counter.mark()
        t0 = time.time()
        maintain.compact(spark, gen, compacted)
        t1 = time.time()
        op = tracer.new_op()
        tracer.add(op, "op", t0, t1, 0)
        tracer.add(op, "maintain.compact", t0, t1, 1)
        compact = {
            "maintain.compact_s": t1 - t0,
            "maintain.compact.bytes_rewritten": float(dir_bytes(compacted)),
            "maintain.compact.spark_jobs": float(counter.since(mark)[0]["jobs"]),
        }
        reader = IndexReader(spark, compacted)
        for q in [hot] + [inputs.Query(t, "point", inputs.EXACT_MATCH, (t,))
                          for t in fresh_docs]:
            got = query(q)
            res.attempted += 1
            if not topk_ok(got, oracle.search(q.terms, q.mode, K), oracle,
                           q.terms, q.mode):
                _fail(res, f"{q.terms} after compact: {got}")

    content_bytes = sum(len(v[2].encode()) for v in docs.values())
    res.e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(visible),
        "query_p50_s": class_p50(loop_queries),
        "queries_per_s": len(loop_queries) / sum(lat for _, lat in loop_queries),
        "build_docs_per_s": size["update_docs"] / build_s,
        "index_bytes_per_input_byte": index_bytes / content_bytes,
    }
    tv, tp, tn = tail([x for _, x in loop_queries])
    layers = dict(build_layers)
    layers.update(compact)
    layers.update({
        "query.call_s": median(layer["call"]),
        "query.collect_s": median(layer["collect"]),
        "query.or3.p50_s": median([lat for c, lat in qlat if c == "or3"]),
        "query.point.p50_s": median([lat for c, lat in qlat if c == "point"]),
        "query.reader_open_s": median(layer["open"]),
        "query.or3.sigma_df": float(sum(len(oracle.tf.get(t, ())) for t in hot.terms)),
        "query.or3.matched_terms": float(len(hot.terms)),
        "checkpoint.manifest_load_s": median(layer["manifest"]),
        "maintain.upsert_s": median(layer["upsert"]),
        "maintain.delete_s": median(layer["delete"]),
        "maintain.segments": float(segments),
        "maintain.tombstones": float(tombstones),
        "maintain.cycles": float(n),
        "proc.peak_rss_mb": sampler.peak / 2**20,
        "proc.cpu_s_per_op": (cpu1 - cpu0) / (2 * n),
    })
    for key in ("jobs", "stages", "tasks"):
        layers[f"spark.{key}_per_query"] = class_p50([(c, j[key]) for c, j in qjobs])
    for cls in ("or3", "point"):
        layers[f"query.{cls}.spark_jobs"] = median([j["jobs"] for c, j in qjobs if c == cls])
    if ctx.trace:
        layers.update(_codec(spark, base, [hot]))
        layers["trace.overhead_s"] = median(tracing)
    res.layers = layers
    res.report = {
        "inputs_sha": inputs_sha,
        "setup_phases": phases,
        "update_visible_s": res.e2e["op_p50_s"],
        "compact_s": compact.get("maintain.compact_s"),
        "query_tail_s": tv, "query_tail_percentile": tp, "query_samples": tn,
        "update_samples": len(visible), "visible_s": visible,
    }
    _finish_trace(ctx, tracer, res)
    return res
