"""Seeded benchmark inputs: corpora, query pools and update batches.

Every input is a pure function of the seed (and of the corpus the seed
generated), so the same seed always gives the same inputs. The engine
only ever receives what these functions return.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
from dataclasses import dataclass, field
from typing import Dict, List, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from spark_search.corpus import synthetic_corpus_distributed
from spark_search.pipeline import AND_MATCH, EXACT_MATCH, START_WITH, WITH_SUGGESTIONS

K = 10

# Sizes. serve-hot holds more terms than the reader's dictionary cache
# (query._DICT_CACHE_CAP = 262,144): 30,000 docs x (1 + 8) unique
# tokens plus the 127-word vocabulary give 270,127 terms. Keywords have
# df ~0.76 N, so OR-3 of keywords, prefixes and batches pass the
# driver-local limit on summed df (query._LOCAL_MAX_POSTINGS = 65,536)
# while a single keyword stays under it. update-mix stays small, so
# every one of its queries takes the driver-local path. Sizes are
# bounded by the time budget of a run: each run starts its own Spark
# session and builds its indexes cold.
SIZES = {
    "full": {
        "hot_docs": 30_000, "hot_extra": 8, "words": 60,
        "update_docs": 2_000, "batch_new": 50, "batch_replace": 50,
        "fresh_docs": 5, "deletes": 20,
    },
    "tiny": {
        "hot_docs": 2_000, "hot_extra": 2, "words": 30,
        "update_docs": 1_000, "batch_new": 10, "batch_replace": 10,
        "fresh_docs": 3, "deletes": 5,
    },
}

# query classes of the serve loop, in the order of a round
CLASSES = ("exact", "or3", "and2", "prefix", "many16", "point")


@dataclass(frozen=True)
class Query:
    qid: str
    cls: str
    mode: str
    terms: Tuple[str, ...] = ()
    # search_many batches: sub-query id -> terms (mode shared)
    batch: Tuple[Tuple[str, Tuple[str, ...]], ...] = ()


@dataclass
class Batch:
    """One update-mix cycle's writes."""

    fresh_token: str
    new_rows: List[Tuple[str, str, str, str, str]] = field(default_factory=list)
    replaced_ids: List[int] = field(default_factory=list)


def hot_corpus(spark: SparkSession, seed: int, size: dict) -> DataFrame:
    """The repo's distributed synthetic corpus plus ``hot_extra``
    document-unique tokens per doc, which push the vocabulary past the
    reader's dictionary cache."""
    c = synthetic_corpus_distributed(spark, size["hot_docs"], size["words"], seed)
    extra = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.lit(size["hot_extra"])),
        lambda j: F.concat(F.lit("v"), F.col("doc_id").cast("string"),
                           F.lit("x"), j.cast("string")),
    ))
    return c.withColumn("content", F.concat_ws(" ", "content", extra))


def update_corpus(spark: SparkSession, seed: int, size: dict) -> DataFrame:
    return synthetic_corpus_distributed(
        spark, size["update_docs"], size["words"], seed)


def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True, default=str).encode())
    return h.hexdigest()[:16]


def df_bands(df: Dict[str, int], n_docs: int) -> Dict[str, List[str]]:
    """Vocabulary grouped by document frequency: ``hot`` holds the
    keywords (df within 3/4 of the top df), ``warm`` the rest down to
    5% of the documents, ``rare`` the terms of a single document."""
    bands: Dict[str, List[str]] = {"hot": [], "warm": [], "rare": []}
    top = max(df.values())
    for t in sorted(df):
        d = df[t]
        if d >= 0.75 * top:
            bands["hot"].append(t)
        elif d >= 0.05 * n_docs:
            bands["warm"].append(t)
        elif d == 1:
            bands["rare"].append(t)
    return bands


def query_pool(seed: int, df: Dict[str, int], n_docs: int) -> List[Query]:
    """One query of each class, in CLASSES order, drawn from the index's
    own vocabulary by df band. Every round of the serve loop sends the
    same queries: its warm-up round then runs the code the timed rounds
    run (the engine keeps no result cache)."""
    rng = random.Random(f"queries:{seed}")
    bands = df_bands(df, n_docs)
    hot, warm = bands["hot"], bands["warm"]
    vocab = sorted(df)
    # prefixes that expand to a band of 5-20 terms, e.g. lib1 -> lib1,
    # lib10..lib19; the bound keeps every seed's prefix queries alike
    prefixes = sorted({
        t[:-1] for t in warm
        if len(t) > 3 and 5 <= _expansion(vocab, t[:-1]) <= 20
    })
    return [
        Query("exact", "exact", EXACT_MATCH, (rng.choice(hot),)),
        Query("or3", "or3", WITH_SUGGESTIONS, tuple(rng.sample(hot, 3))),
        Query("and2", "and2", AND_MATCH, tuple(rng.sample(hot, 2))),
        Query("prefix", "prefix", START_WITH, (rng.choice(prefixes),)),
        Query("many16", "many16", WITH_SUGGESTIONS, batch=tuple(
            (f"m{j:02d}", tuple(rng.sample(hot + warm, 2)))
            for j in range(16))),
        Query("point", "point", EXACT_MATCH, (rng.choice(bands["rare"]),)),
    ]


def hot_or_query(seed: int, bands: Dict[str, List[str]]) -> Query:
    """update-mix's hot OR query: three seeded keywords."""
    rng = random.Random(f"hot:{seed}")
    return Query("hot", "or3", WITH_SUGGESTIONS, tuple(rng.sample(bands["hot"], 3)))


def _expansion(vocab: Sequence[str], prefix: str) -> int:
    lo = bisect.bisect_left(vocab, prefix)
    hi = bisect.bisect_left(vocab, prefix + "\U0010ffff")
    return hi - lo


def update_batch(
    seed: int, cycle: int, size: dict, words: List[str],
    live_keys: Dict[int, Tuple[str, str]],
) -> Batch:
    """New documents (the first ``fresh_docs`` carry a token no other
    document has) plus replacements of seeded live documents."""
    rng = random.Random(f"batch:{seed}:{cycle}")
    fresh = f"fresh{cycle}z{seed}"
    b = Batch(fresh)

    def content(with_fresh: bool) -> str:
        ws = [rng.choice(words) for _ in range(rng.randint(20, 60))]
        if with_fresh:
            ws.insert(rng.randrange(len(ws)), fresh)
        return " ".join(ws)

    for j in range(size["batch_new"]):
        b.new_rows.append((
            "bench/upsert", f"c{cycle}/n{j}.txt", f"c{cycle}", "text",
            content(j < size["fresh_docs"]),
        ))
    b.replaced_ids = rng.sample(sorted(live_keys), size["batch_replace"])
    for d in b.replaced_ids:
        repo, path = live_keys[d]
        b.new_rows.append((repo, path, f"c{cycle}", "text", content(False)))
    return b


def delete_ids(seed: int, cycle: int, size: dict, live: Sequence[int],
               must: Sequence[int]) -> List[int]:
    """Seeded live ids plus ``must`` (documents a query would return)."""
    rng = random.Random(f"deletes:{seed}:{cycle}")
    pick = set(must)
    rest = sorted(set(live) - pick)
    pick.update(rng.sample(rest, size["deletes"]))
    return sorted(pick)
