"""Measurement helpers: spans and self time, percentiles, Spark job
counts, process resources, result checks and the codec probe.

Everything here observes the engine from outside: it times calls into
the engine's public functions and reads what the program already
publishes (manifest stage records, the Spark status tracker, /proc).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np

from spark_search.codec import decode_block, encode_blocks, varint_decode
from spark_search.oracle.bm25 import OracleEngine
from spark_search.pipeline import AND_MATCH, B, K1
from spark_search.tokenizer import tokenize

REL = 1e-9  # the suite's score tolerance (tests/test_build_query.py)


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    op: int  # id shared by every span of one operation
    name: str
    start: float  # time.time(), comparable with manifest finished_at
    end: float
    depth: int  # 0 = the operation itself, 1 = layer call, 2 = stage


class Tracer:
    """Spans kept in memory and written out at exit. A disabled tracer
    records nothing; callers still time their own end-to-end figures."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Span] = []
        self._lock = threading.Lock()
        self._next_op = 0

    def new_op(self) -> int:
        with self._lock:
            self._next_op += 1
            return self._next_op

    def add(self, op: int, name: str, start: float, end: float, depth: int) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append(Span(op, name, start, end, depth))

    def add_build_stages(self, op: int, manifest) -> None:
        """Child spans (depth 2) of a build or upsert span, rebuilt from
        each manifest stage record's ``finished_at - wall_s``."""
        for stage, rec in manifest.stages.items():
            if "wall_s" in rec and "finished_at" in rec:
                end = float(rec["finished_at"])
                self.add(op, "build." + stage_layer(stage),
                         end - float(rec["wall_s"]), end, 2)

    def self_times(self) -> Tuple[Dict[str, float], List[Tuple[float, float]]]:
        """Per-layer self time over all operations, and per operation
        (wall, time attributed to layers below the operation itself).

        Each instant of an operation goes to the deepest spans active at
        that instant, split equally when several are (a build's docs and
        postings stages run side by side), so the self times of one
        operation sum to its wall time."""
        by_op: Dict[int, List[Span]] = defaultdict(list)
        for s in self.spans:
            by_op[s.op].append(s)
        totals: Dict[str, float] = defaultdict(float)
        per_op: List[Tuple[float, float]] = []
        for spans in by_op.values():
            roots = [s for s in spans if s.depth == 0]
            if len(roots) != 1:
                continue
            root = roots[0]
            clipped = [
                Span(s.op, s.name, max(s.start, root.start),
                     min(s.end, root.end), s.depth)
                for s in spans if s.end > root.start and s.start < root.end
            ]
            cuts = sorted({t for s in clipped for t in (s.start, s.end)})
            layer_time = 0.0
            for a, b in zip(cuts, cuts[1:]):
                active = [s for s in clipped if s.start <= a and s.end >= b]
                if not active:
                    continue
                deepest = max(s.depth for s in active)
                top = [s for s in active if s.depth == deepest]
                for s in top:
                    totals[s.name] += (b - a) / len(top)
                if deepest > 0:
                    layer_time += b - a
            per_op.append((root.end - root.start, layer_time))
        return dict(totals), per_op

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def stage_layer(stage: str) -> str:
    """Manifest stage name -> build sub-layer (postings-0/1 and
    postings-compact both belong to the postings stage)."""
    return "postings" if stage.startswith("postings") else stage


def build_stage_metrics(manifest, wall_s: float) -> Dict[str, float]:
    """build.* per-layer numbers from a committed build manifest."""
    st = manifest.stages
    walls: Dict[str, float] = defaultdict(float)
    intervals = []
    for name, rec in st.items():
        if "wall_s" in rec:
            walls[stage_layer(name)] += float(rec["wall_s"])
            end = float(rec["finished_at"])
            intervals.append((end - float(rec["wall_s"]), end))
    covered = _union_length(intervals)
    post = st.get("postings-compact") or {}
    return {
        "build.wall_s": wall_s,
        "build.docs.wall_s": walls["docs"],
        "build.postings.wall_s": walls["postings"],
        "build.terms.wall_s": walls["terms"],
        "build.unattributed_s": max(0.0, wall_s - covered),
        "build.postings.bytes": float(post.get("bytes", 0)),
        "build.docs.bytes": float(st.get("docs", {}).get("bytes", 0)),
        "build.terms.rows": float(st.get("terms", {}).get("rows", 0)),
        "build.postings.files_total": float(post.get("files_total", 0)),
    }


def _union_length(intervals: Sequence[Tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ statistics


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: Sequence[float]) -> Tuple[float, float, int]:
    """(value, percentile, samples) for the highest percentile with at
    least ten samples beyond it; (max, 100, n) when there are ten or
    fewer samples."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    if n <= 10:
        return s[-1], 100.0, n
    idx = n - 11  # ten samples lie above s[idx]
    return s[idx], round(100.0 * (idx + 1) / n, 1), n


# ---------------------------------------------------------- spark counts


class JobCounter:
    """Spark jobs, stages and tasks of one operation, read from the
    status tracker after the listener bus has caught up."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Id of the next job to start (jobs are numbered in order)."""
        self._drain()
        return self.sc._jsc.sc().dagScheduler().numTotalJobs()

    def since(self, mark: int) -> Tuple[Dict[str, int], int]:
        """Counts for the jobs started after ``mark``, and a new mark.
        Only valid while no other thread submits jobs."""
        end = self.mark()
        return self._count(range(mark, end)), end

    def group(self, group: str) -> Dict[str, int]:
        self._drain()
        return self._count(self.tracker.getJobIdsForGroup(group))

    def _count(self, job_ids: Iterable[int]) -> Dict[str, int]:
        jobs = stages = tasks = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = self.tracker.getStageInfo(sid)
                if s is not None:
                    stages += 1
                    tasks += s.numTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


# ------------------------------------------------------------------ /proc


def _tree(root: int) -> List[int]:
    children: Dict[int, List[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_and_cpu(pid: int) -> Tuple[int, float]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0, 0.0
    tick = os.sysconf("SC_CLK_TCK")
    # fields after ')': state=0 ... utime=11 stime=12 cutime=13 cstime=14 rss=21
    cpu = sum(int(fields[i]) for i in (11, 12, 13, 14)) / tick
    rss = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
    return rss, cpu


def tree_usage() -> Tuple[int, float]:
    """(RSS bytes, CPU seconds) summed over this process, the JVM it
    launched and the Python workers below the JVM."""
    rss = cpu = 0
    for p in _tree(os.getpid()):
        r, c = _rss_and_cpu(p)
        rss += r
        cpu += c
    return rss, cpu


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from the virtual CPUs so far
    (steal time, /proc/stat): time their work was ready to run while the
    shared host ran something else."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class ProcSampler:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval_s: float = 0.5):
        self.interval = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_usage()[0])
            if self._stop.wait(self.interval):
                return


# ----------------------------------------------------------------- checks


def oracle_score(oracle, doc: int, matched: Sequence[str], need: int,
                 mode: str) -> Optional[float]:
    """BM25 score of ``doc`` under the oracle, None when it does not
    match the query."""
    score, n = 0.0, 0
    dl = oracle.dl.get(doc)
    if dl is None:
        return None
    for t in matched:
        tf = oracle.tf[t].get(doc)
        if tf is None:
            continue
        idf = oracle.idf(t)
        score += idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / oracle.avgdl))
        n += 1
    if n == 0 or (mode == AND_MATCH and n != need):
        return None
    return score


def topk_ok(rows: Sequence[Tuple[int, float]], expected: Sequence[Tuple[int, float]],
            oracle, terms: Sequence[str], mode: str) -> bool:
    """A valid top-k: same length and scores as the oracle's top-k
    (within the suite's tolerance), distinct docs, and every returned
    doc's oracle score equal to the score returned. Ties at equal score
    may come in any order."""
    if len(rows) != len(expected) or len({d for d, _ in rows}) != len(rows):
        return False
    matched = oracle.match_terms(terms, mode)
    need = len(dict.fromkeys(terms))
    for (doc, got), (_, want) in zip(rows, expected):
        if not math.isclose(got, want, rel_tol=REL, abs_tol=1e-12):
            return False
        truth = oracle_score(oracle, doc, matched, need, mode)
        if truth is None or not math.isclose(got, truth, rel_tol=REL, abs_tol=1e-12):
            return False
    return True


class LiveOracle:
    """The suite's pure-Python BM25 oracle, kept in step with upserts
    and deletes so post-compact results can be checked on the live
    corpus."""

    def __init__(self, docs: Iterable[Tuple[int, str]]):
        self.engine = OracleEngine(list(docs))
        self._tokens: Dict[int, Dict[str, int]] = defaultdict(dict)
        for t, posting in self.engine.tf.items():
            for d, c in posting.items():
                self._tokens[d][t] = c

    def add(self, doc: int, content: str) -> None:
        e = self.engine
        toks = tokenize(content, e.tokenizer)
        e.dl[doc] = len(toks)
        for t, c in Counter(toks).items():
            e.tf[t][doc] = c
            self._tokens[doc][t] = c
        self._restat()

    def remove(self, doc: int) -> None:
        e = self.engine
        if e.dl.pop(doc, None) is None:
            return
        for t in self._tokens.pop(doc, {}):
            e.tf[t].pop(doc, None)
            if not e.tf[t]:
                del e.tf[t]
        self._restat()

    def _restat(self) -> None:
        e = self.engine
        e.n = len(e.dl)
        e.avgdl = (sum(e.dl.values()) / e.n) if e.n else 0.0


# ------------------------------------------------------------------ codec


def codec_probe(blocks: Sequence[Tuple[int, bytes, bytes]], block_size: int) -> Dict[str, float]:
    """Decode/encode cost on real index blocks, outside any Spark job,
    each the median of five passes. ``blocks`` = [(first_doc, deltas, tfs)]."""
    def timed(fn) -> float:
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return median(ts)

    dec = timed(lambda: [decode_block(f, d, t) for f, d, t in blocks])
    buf = b"".join(d + t for _, d, t in blocks)
    var = timed(lambda: varint_decode(buf))
    decoded = [decode_block(f, d, t) for f, d, t in blocks]
    enc = timed(lambda: [encode_blocks(d, t, block_size) for d, t in decoded])
    return {
        "codec.blocks": float(len(blocks)),
        "codec.decode_us_per_block": 1e6 * dec / max(1, len(blocks)),
        "codec.varint_decode_mb_per_s": len(buf) / 1e6 / var if var > 0 else 0.0,
        "codec.encode_us_per_block": 1e6 * enc / max(1, len(blocks)),
    }
