"""Disk index build + query engine tests.

Mirrors the reference's integration layer (SURVEY.md §5): fixture-corpus
exact/prefix/OR queries checked for rank-identity against the
pure-Python oracle, the reference's random-word property test
(reference app/src/test/java/org/search/app/SearchEngineAppTest.java:55-102),
resume-from-checkpoint, and build determinism across input partitioning.
"""

import os

import pytest

from spark_search import pipeline as P
from spark_search.build import build_index
from spark_search.checkpoint import BuildManifest
from spark_search.codec import decode_block
from spark_search.corpus import synthetic_corpus
from spark_search.ids import with_doc_ids
from spark_search.oracle.bm25 import OracleEngine
from spark_search.query import IndexReader

REL = 1e-9


def _oracle_for(df):
    rows = df.select("doc_id", "content").collect()
    return OracleEngine([(r["doc_id"], r["content"]) for r in rows])


def _assert_topk_matches(res_df, oracle_topk):
    got = [(r["doc_id"], r["score"]) for r in res_df.orderBy("rank").collect()]
    assert len(got) == len(oracle_topk)
    for (gd, gs), (od, os_) in zip(got, oracle_topk):
        assert gd == od
        assert gs == pytest.approx(os_, rel=REL)


@pytest.fixture(scope="module")
def fixture_index(spark, fixture_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "fixture_index")
    build_index(spark, fixture_corpus, d, num_buckets=4, chunk_span=2,
                block_size=2)
    return IndexReader(spark, d)


@pytest.fixture(scope="module")
def synth(spark):
    df = with_doc_ids(synthetic_corpus(spark, 300)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def synth_index(spark, synth, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "synth_index")
    build_index(spark, synth, d, num_buckets=8, chunk_span=64, block_size=16)
    return IndexReader(spark, d)


# ----------------------------------------------------- reference query set


@pytest.mark.parametrize(
    "terms,mode",
    [
        (["mila"], P.EXACT_MATCH),
        (["relieve"], P.EXACT_MATCH),
        (["surfeits"], P.EXACT_MATCH),
        (["Example"], P.EXACT_MATCH),
        (["mila"], P.START_WITH),
        (["mama", "mila"], P.WITH_SUGGESTIONS),
        (["mama", "mila"], P.AND_MATCH),
        (["nosuchterm"], P.EXACT_MATCH),
        ([], P.EXACT_MATCH),
    ],
)
def test_fixture_queries_rank_identical(
    fixture_index, fixture_corpus, terms, mode
):
    oracle = _oracle_for(fixture_corpus)
    _assert_topk_matches(
        fixture_index.search(terms, mode, k=10), oracle.search(terms, mode, k=10)
    )


def test_fixture_match_sets(fixture_index, fixture_corpus):
    """The reference's own (unordered doc set) result notion — FIXTURES §3."""
    oracle = _oracle_for(fixture_corpus)
    path_of = {
        r["doc_id"]: r["path"] for r in fixture_corpus.select("doc_id", "path").collect()
    }
    for terms, mode, expect in [
        (["mila"], P.EXACT_MATCH, {"testFolder/one.txt", "testFolder/two.txt"}),
        (["relieve"], P.EXACT_MATCH, {"TestFileOne.txt"}),
        (["surfeits"], P.EXACT_MATCH, {"TestFileOne.txt"}),
        (["mila"], P.START_WITH, {"testFolder/one.txt", "testFolder/two.txt"}),
        (["mama", "mila"], P.WITH_SUGGESTIONS,
         {"testFolder/one.txt", "testFolder/two.txt"}),
    ]:
        got = {
            path_of[r["doc_id"]]
            for r in fixture_index.search(terms, mode, k=100).collect()
        }
        assert got == expect, (terms, mode)
        assert {path_of[d] for d in oracle.match_set(terms, mode)} == expect


# ------------------------------------------------- synthetic corpus parity


def test_synth_queries_match_oracle_and_pipeline(synth_index, synth):
    oracle = _oracle_for(synth)
    cases = [
        (["import"], P.EXACT_MATCH),          # hottest term (skew)
        (["import", "return", "def"], P.WITH_SUGGESTIONS),
        (["import", "buildIndex"], P.AND_MATCH),
        (["camel"], P.START_WITH),
        (["varint_codec", "tok42"], P.WITH_SUGGESTIONS),
    ]
    for terms, mode in cases:
        res = synth_index.search(terms, mode, k=10)
        _assert_topk_matches(res, oracle.search(terms, mode, k=10))
        # declarative pipeline agrees too
        pipe = [
            (r["doc_id"], r["score"])
            for r in P.bm25_topk(synth, terms, mode, k=10).orderBy("rank").collect()
        ]
        assert [d for d, _ in pipe] == [d for d, _ in oracle.search(terms, mode, k=10)]


def test_pruning_matches_exhaustive(synth_index):
    """Block-max pruning must not change results (WAND safety)."""
    for terms, mode in [
        (["import", "return", "def", "class"], P.WITH_SUGGESTIONS),
        (["import"], P.EXACT_MATCH),
    ]:
        pruned = synth_index.search(terms, mode, k=10, prune=True).collect()
        full = synth_index.search(terms, mode, k=10, prune=False).collect()
        assert [(r["doc_id"], r["score"]) for r in pruned] == [
            (r["doc_id"], r["score"]) for r in full
        ]


def test_local_fast_path_matches_distributed(spark, synth_index, tmp_path):
    """The driver-side small-query fast path must be plan-invisible:
    identical (doc_id, score, rank) to the distributed plan for every
    mode, including prefix expansion, AND, and AND over tombstones.
    Both paths run the same chunk kernel in sorted-term order, so the
    scores are exactly equal."""
    from spark_search.maintain import delete_docs

    and_q = ["import", "return"]
    victims = [
        r["doc_id"]
        for r in synth_index.search(and_q, P.AND_MATCH, k=3).collect()
    ]
    assert victims
    d2 = str(tmp_path / "local_vs_dist_deleted")
    delete_docs(spark, synth_index.paths.root, d2, victims)
    deleted = IndexReader(spark, d2)
    for rd, terms, mode in [
        (synth_index, ["import"], P.EXACT_MATCH),
        (synth_index, ["import", "return", "def"], P.WITH_SUGGESTIONS),
        (synth_index, and_q, P.AND_MATCH),
        (synth_index, ["im"], P.START_WITH),
        (synth_index, ["nosuchterm"], P.EXACT_MATCH),
        (deleted, and_q, P.AND_MATCH),
    ]:
        local = rd.search(terms, mode, k=10).collect()
        dist = rd.search(terms, mode, k=10, local_max_postings=0).collect()
        assert [(r["doc_id"], r["score"], r["rank"]) for r in local] == [
            (r["doc_id"], r["score"], r["rank"]) for r in dist
        ], (terms, mode)
        if rd is deleted:
            assert local, "post-delete AND query must still match"
            assert not {r["doc_id"] for r in local} & set(victims)


def test_random_word_property(synth_index, synth):
    """∀ token t of doc d: d ∈ match_set(t) — the reference's e2e
    property (SearchEngineAppTest.java:55-102), 30 sampled words."""
    import random

    from spark_search.tokenizer import tokenize

    rng = random.Random(7)
    row = synth.orderBy("doc_id").limit(50).collect()[rng.randrange(50)]
    toks = list(set(tokenize(row["content"])))
    for t in rng.sample(toks, min(30, len(toks))):
        hits = {
            r["doc_id"] for r in synth_index.search([t], P.EXACT_MATCH, k=1000).collect()
        }
        assert row["doc_id"] in hits, t


# ------------------------------------------------------- invariants, resume


def test_sha256_verify_and_positions(fixture_index, fixture_corpus):
    out = fixture_index.verify_search(fixture_corpus, ["mila"], P.EXACT_MATCH).collect()
    assert out and all(r["sha_ok"] for r in out)
    by_path = {}
    paths = {
        r["doc_id"]: r["path"]
        for r in fixture_corpus.select("doc_id", "path").collect()
    }
    for r in out:
        by_path[paths[r["doc_id"]]] = r["match_rows"]
    # "mama mila doma hi mama i am here" -> 'mila' at offset 5, row 0
    assert by_path["testFolder/one.txt"] == [
        {"row": 0, "positions": [5]}
    ] or by_path["testFolder/one.txt"][0]["positions"] == [5]


def test_resume_skips_completed_stages(spark, synth, tmp_path):
    d = str(tmp_path / "resume_index")
    m1 = build_index(spark, synth, d, num_buckets=4, chunk_span=64,
                     bucket_groups=2)
    assert os.path.exists(os.path.join(d, "manifest.json"))
    done_stages = set(m1.stages)
    assert {"docs", "postings-0/2", "postings-1/2", "terms"} <= done_stages

    # simulate an interruption after the postings stages: final manifest
    # gone, 'terms' stage incomplete (terms/ is overwrite-mode so replay
    # is idempotent)
    stages = dict(m1.stages)
    stages.pop("terms")
    partial = BuildManifest(d, m1.config, m1.stats, stages)
    partial.save_partial()
    os.remove(os.path.join(d, "manifest.json"))

    before = {s: r["finished_at"] for s, r in stages.items()}
    m2 = build_index(spark, synth, d, num_buckets=4, chunk_span=64,
                     bucket_groups=2, resume=True)
    # completed stages were skipped (records untouched), terms re-ran
    for s, t in before.items():
        assert m2.stages[s]["finished_at"] == t, s
    assert m2.stages["terms"]["finished_at"] > before["postings-1/2"]

    r = IndexReader(spark, d)
    assert r.search(["import"], P.EXACT_MATCH, k=5).count() == 5


def test_build_deterministic_across_input_partitioning(
    spark, synth, synth_index, tmp_path
):
    """Index logical content must not depend on input partitioning
    (the local[8]-vs-local[32] determinism requirement, BASELINE.md §3.6)."""
    d2 = str(tmp_path / "repart_index")
    build_index(spark, synth.repartition(13), d2, num_buckets=8,
                chunk_span=64, block_size=16)
    r2 = IndexReader(spark, d2)

    def logical(reader):
        out = set()
        for row in reader.postings_df().collect():
            for blk in row["blocks"]:
                ids, tfs = decode_block(
                    blk["first_doc"], bytes(blk["deltas"]), bytes(blk["tfs"])
                )
                for i, t in zip(ids.tolist(), tfs.tolist()):
                    out.add((row["term"], i, t))
        return out

    assert logical(synth_index) == logical(r2)
    t1 = {
        (r["term"], r["df"], r["cf"], r["max_tf"])
        for r in synth_index.terms_df().collect()
    }
    t2 = {(r["term"], r["df"], r["cf"], r["max_tf"]) for r in r2.terms_df().collect()}
    assert t1 == t2


def test_combined_exchange_builds_identical_index(
    spark, synth, synth_index, tmp_path
):
    """postings_exchange='combined' (map-side-combined two-exchange
    plan for network-bound clusters) must produce the same logical
    index as the default fused single exchange — per-block bytes
    included (sorted collect_list makes encoding order-independent of
    the shuffle strategy)."""
    d2 = str(tmp_path / "combined_index")
    build_index(spark, synth, d2, num_buckets=8, chunk_span=64,
                block_size=16, postings_exchange="combined")
    r2 = IndexReader(spark, d2)

    def blocks(reader):
        return {
            (
                row["term"], row["chunk"], row["n_docs"], row["sum_tf"],
                row["max_tf"],
                tuple(
                    (b["first_doc"], b["last_doc"], b["n"], b["max_tf"],
                     bytes(b["deltas"]), bytes(b["tfs"]))
                    for b in row["blocks"]
                ),
            )
            for row in reader.postings_df().collect()
        }

    assert blocks(synth_index) == blocks(r2)


def test_doc_terms_reverse_lookup(fixture_index, fixture_corpus, spark):
    """O3 analog: terms-of-doc must equal the doc's own tokenization."""
    from spark_search.query import IndexReader
    from spark_search.tokenizer import tokenize
    from collections import Counter

    reader = fixture_index
    row = fixture_corpus.where("doc_id = 3").collect()[0]  # one.txt
    want = Counter(tokenize(row["content"]))
    got = {r["term"]: r["tf"] for r in reader.doc_terms(3).collect()}
    assert got == dict(want)
    assert reader.doc_terms(99999).count() == 0


def test_custom_tokenizer_registry(spark, tmp_path):
    """T3 analog: a registered tokenizer works through the whole stack
    (pure python, Spark column, index build + query)."""
    from spark_search import pipeline as P
    from spark_search.build import build_index
    from spark_search.corpus import CORPUS_SCHEMA
    from spark_search.ids import with_doc_ids
    from spark_search.query import IndexReader
    from spark_search.tokenizer import register_tokenizer, tokenize, \
        tokenize_with_positions

    register_tokenizer("comma", ",+")
    assert tokenize("a,b,,c d", "comma") == ["a", "b", "c d"]
    assert tokenize_with_positions("a,,bc", "comma") == [("a", 0), ("bc", 3)]

    corpus = with_doc_ids(
        spark.createDataFrame(
            [("r", "p1", "v", "txt", "x,y,z"), ("r", "p2", "v", "txt", "y,q")],
            CORPUS_SCHEMA,
        )
    )
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, idx, num_buckets=2, chunk_span=8,
                tokenizer="comma")
    r = IndexReader(spark, idx)
    assert r.tokenizer == "comma"
    got = sorted(
        x["doc_id"] for x in r.search(["y"], P.EXACT_MATCH, 10).collect()
    )
    assert got == [1, 2]
    assert [x["doc_id"] for x in r.search(["z"], P.EXACT_MATCH, 10).collect()] \
        == [1]


def test_postings_fanout_compaction(spark, synth, synth_index, tmp_path):
    """With the files-per-bucket bound forced low, the build's
    compaction stage must rewrite each bucket into few files while
    preserving the logical index exactly (same postings sets, same
    search results)."""
    d2 = str(tmp_path / "fanout_index")
    m = build_index(spark, synth, d2, num_buckets=8, chunk_span=64,
                    block_size=16, max_files_per_bucket=1)
    rec = m.stages["postings-compact"]
    assert rec["compacted"] is True
    assert rec["files_per_bucket_max"] <= 1
    # one file per bucket dir on disk
    import glob

    for bdir in glob.glob(os.path.join(d2, "postings", "bucket=*")):
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert len(files) == 1, (bdir, files)

    r2 = IndexReader(spark, d2)

    def logical(reader):
        out = set()
        for row in reader.postings_df().collect():
            for blk in row["blocks"]:
                ids, tfs = decode_block(
                    blk["first_doc"], bytes(blk["deltas"]), bytes(blk["tfs"])
                )
                for i, t in zip(ids.tolist(), tfs.tolist()):
                    out.add((row["term"], i, t))
        return out

    assert logical(r2) == logical(synth_index)
    for terms, mode in [
        (["import"], P.EXACT_MATCH),
        (["import", "return", "def"], P.WITH_SUGGESTIONS),
    ]:
        a = [(r.doc_id, r.rank) for r in
             synth_index.search(terms, mode, k=10).collect()]
        b = [(r.doc_id, r.rank) for r in r2.search(terms, mode, k=10).collect()]
        assert a == b
