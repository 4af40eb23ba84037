"""BM25 and RRF: known-value checks against a pure-Python mirror."""

import math

from pyspark.sql import functions as F

from embeddingsearch_spark.operators import retrieval

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "cats and dogs living together"),
    (4, ""),
]
QUERIES = [(100, "the cat"), (101, "dog"), (102, "zzz_nomatch")]


def _mirror_bm25(k1=1.2, b=0.75):
    toks = {i: t.lower().split() for i, t in DOCS}
    n = len(DOCS)
    avgdl = sum(len(t) for t in toks.values()) / n
    scores = {}
    for qid, qtext in QUERIES:
        for did, t in toks.items():
            s, m = 0.0, 0
            for term in dict.fromkeys(qtext.lower().split()):
                tf = t.count(term)
                if tf == 0:
                    continue
                df = sum(1 for tt in toks.values() if term in tt)
                idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                s += idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(t) / avgdl)
                )
                m += 1
            if m:
                scores[(qid, did)] = (round(s, 6), m)
    return scores


def test_bm25_matches_python_mirror(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    got = {
        (r["query_id"], r["doc_id"]): (r["score"], r["n_matched"])
        for r in retrieval.bm25_scores(docs, qs).collect()
    }
    want = _mirror_bm25()
    assert set(got) == set(want)
    for key in want:
        assert abs(got[key][0] - want[key][0]) < 1e-9, key
        assert got[key][1] == want[key][1], key
    # no-match query produces no rows; empty doc never matches
    assert not any(q == 102 for q, _ in got)
    assert not any(d == 4 for _, d in got)


def test_bm25_topk_rank_determinism(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    top = retrieval.bm25_topk(docs, qs, k=2)
    rows = {
        (r["query_id"], r["rank"]): r["doc_id"] for r in top.collect()
    }
    # "the cat": doc 1 matches both terms -> rank 1
    assert rows[(100, 1)] == 1
    # "dog": only doc 2 contains it
    assert rows[(101, 1)] == 2 and (101, 2) not in rows


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _frames_equal(a, b):
    return _sorted_rows(a) == _sorted_rows(b)


def test_bm25_pruned_identical_to_plain(spark):
    """Rank-safety: the WAND-pruned path returns the exact same frame
    as plain bm25_topk — including n_matched — on a corpus with empty
    docs, no-match queries, and k larger than some result sets."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    for k in (1, 2, 10):
        plain = retrieval.bm25_topk(docs, qs, k=k)
        pruned = retrieval.bm25_topk_pruned(docs, qs, k=k)
        assert _frames_equal(plain, pruned), f"k={k}"


def test_bm25_pruned_identical_on_testdata(spark, sf_dir):
    """End-to-end parity on the gated fixture inputs at sf0.001."""
    from embeddingsearch_spark import tables
    from embeddingsearch_spark.suite.retrievalops import _text_queries

    docs = tables.load(spark, sf_dir, "documents")
    qs = _text_queries(spark, sf_dir)
    assert _frames_equal(
        retrieval.bm25_topk(docs, qs, k=10),
        retrieval.bm25_topk_pruned(docs, qs, k=10),
    )


def test_bm25_prune_stats_bounds(spark):
    """Candidate volume never exceeds the full match volume, and every
    top-k doc survives in the candidate set (implied by parity, checked
    directly via the stats contract)."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    st = retrieval.bm25_prune_stats(docs, qs, k=2)
    assert st["cand_pairs"] <= st["full_pairs"]
    assert st["cand_score_rows"] <= st["full_score_rows"]
    assert st["cand_pairs"] > 0


def test_bm25_pruned_actually_prunes_zipfian(spark):
    """On a Zipf-shaped corpus (one rare discriminative term per doc
    group + ubiquitous filler terms) the filler terms are non-essential
    and the candidate set collapses to the rare-term postings."""
    filler = "common words everywhere always"
    rows = [(i, f"{filler} rare{i % 5}") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = spark.createDataFrame(
        [(1, f"{filler} rare0")], "query_id long, text string"
    )
    st = retrieval.bm25_prune_stats(docs, qs, k=3)
    # every doc matches the filler terms (50 pairs); only the rare0
    # postings (10 docs) can reach the top-3
    assert st["full_pairs"] == 50
    assert st["cand_pairs"] == 10
    assert _frames_equal(
        retrieval.bm25_topk(docs, qs, k=3),
        retrieval.bm25_topk_pruned(docs, qs, k=3),
    )


def test_postings_index_roundtrip_and_upsert(spark):
    """Persisted inverted index: scoring from the index equals the
    direct path; upsert re-tokenizes only the changed docs and leaves
    the rest untouched; the df aggregation over the bucketed table
    runs with zero Exchange nodes."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    retrieval.build_postings_index(
        docs, "es_test_postings", n_buckets=4
    )
    out = retrieval.bm25_topk_from_index(
        spark, "es_test_postings", qs, k=10
    )
    assert _frames_equal(out, retrieval.bm25_topk(docs, qs, k=10))

    post = spark.table("es_test_postings")
    agg = post.groupBy("term").agg(F.countDistinct("doc_id"))
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan

    # upsert: doc 1 rewritten, others untouched, stats follow
    changed = spark.createDataFrame(
        [(1, "completely new words here")], "doc_id long, text string"
    )
    retrieval.upsert_postings_index(
        spark, "es_test_postings", changed, n_buckets=4
    )
    post2 = spark.table("es_test_postings")
    terms1 = {
        r["term"] for r in post2.filter("doc_id = 1").collect()
    }
    assert terms1 == {"completely", "new", "words", "here"}
    assert post2.select("doc_id").distinct().count() == len(DOCS)
    # scoring over the updated index reflects the edit
    docs2 = spark.createDataFrame(
        [(i, t) for i, t in DOCS if i != 1]
        + [(1, "completely new words here")],
        "doc_id long, text string",
    )
    out2 = retrieval.bm25_topk_from_index(
        spark, "es_test_postings", qs, k=10
    )
    assert _frames_equal(out2, retrieval.bm25_topk(docs2, qs, k=10))


def test_bm25_wand_from_index_identical(spark):
    """WAND ∘ persisted index: identical frame to plain bm25_topk on a
    corpus with empty docs, no-match queries, and k over-asking — and
    still identical after an index upsert changes the corpus."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    retrieval.build_postings_index(
        docs, "es_test_postings_wand", n_buckets=4
    )
    for k in (1, 2, 10):
        out = retrieval.bm25_topk_pruned_from_index(
            spark, "es_test_postings_wand", qs, k=k
        )
        assert _frames_equal(
            out, retrieval.bm25_topk(docs, qs, k=k)
        ), f"k={k}"
    changed = spark.createDataFrame(
        [(3, "the cat chased the dog")], "doc_id long, text string"
    )
    retrieval.upsert_postings_index(
        spark, "es_test_postings_wand", changed, n_buckets=4
    )
    docs2 = spark.createDataFrame(
        [(i, t) for i, t in DOCS if i != 3]
        + [(3, "the cat chased the dog")],
        "doc_id long, text string",
    )
    assert _frames_equal(
        retrieval.bm25_topk_pruned_from_index(
            spark, "es_test_postings_wand", qs, k=10
        ),
        retrieval.bm25_topk(docs2, qs, k=10),
    )


def test_bm25_prf_pruned_identical(spark):
    """Both-pass WAND pruning leaves the PRF result bit-identical —
    feedback docs, expansion terms, and the final ranking all agree."""
    docs = spark.createDataFrame(
        [
            (1, "solar panels convert sunlight into electricity"),
            (2, "solar energy and photovoltaic cells electricity grid"),
            (3, "photovoltaic cells power the grid"),
            (4, "completely unrelated cooking recipe with butter"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "solar electricity"), (2, "nonexistent_term")],
        "query_id long, text string",
    )
    for k, k_fb, m in ((2, 2, 2), (10, 3, 3)):
        assert _frames_equal(
            retrieval.bm25_prf_topk(
                docs, qs, k=k, k_fb=k_fb, m_terms=m
            ),
            retrieval.bm25_prf_topk(
                docs, qs, k=k, k_fb=k_fb, m_terms=m, prune=True
            ),
        ), (k, k_fb, m)


def test_bm25_prf_pruned_identical_on_testdata(spark, sf_dir):
    """Parity on the gated fixture inputs (realistic corpus, sf0.001)."""
    from embeddingsearch_spark.suite.realistic import derive_realistic_docs
    from embeddingsearch_spark.suite.retrievalops import _text_queries

    docs = derive_realistic_docs(spark, sf_dir)
    qs = _text_queries(spark, sf_dir, docs)
    assert _frames_equal(
        retrieval.bm25_prf_topk(docs, qs, k=10, k_fb=5, m_terms=3),
        retrieval.bm25_prf_topk(
            docs, qs, k=10, k_fb=5, m_terms=3, prune=True
        ),
    )


def test_bm25_prf_from_index_identical_and_df_metadata(spark):
    """PRF over the persisted index equals the in-query twin in BOTH
    prune modes; the build persists the vocab-sized ``__df`` metadata
    (exact per-term doc frequencies, NULL sentinel excluded) and an
    upsert refreshes it so the metadata join stays value-identical to
    deriving df from the index."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    retrieval.build_postings_index(
        docs, "es_test_postings_prf", n_buckets=4, with_stats=True
    )
    # __df parity vs the index-derived aggregation
    got = {
        r["term"]: r["df"]
        for r in spark.table("es_test_postings_prf__df").collect()
    }
    want = {
        r["term"]: r["df"]
        for r in spark.table("es_test_postings_prf")
        .filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    assert got == want and None not in got
    for prune in (False, True):
        assert _frames_equal(
            retrieval.bm25_prf_from_index(
                spark, "es_test_postings_prf", qs,
                k=10, k_fb=2, m_terms=3, prune=prune,
            ),
            retrieval.bm25_prf_topk(
                docs, qs, k=10, k_fb=2, m_terms=3
            ),
        ), f"prune={prune}"
    # upsert refreshes the metadata and the serve follows the edit
    changed = spark.createDataFrame(
        [(1, "completely new words here")], "doc_id long, text string"
    )
    retrieval.upsert_postings_index(
        spark, "es_test_postings_prf", changed, n_buckets=4
    )
    docs2 = spark.createDataFrame(
        [(i, t) for i, t in DOCS if i != 1]
        + [(1, "completely new words here")],
        "doc_id long, text string",
    )
    got2 = {
        r["term"]: r["df"]
        for r in spark.table("es_test_postings_prf__df").collect()
    }
    assert got2["completely"] == 1 and got2 != got
    assert _frames_equal(
        retrieval.bm25_prf_from_index(
            spark, "es_test_postings_prf", qs, k=10, k_fb=2, m_terms=3
        ),
        retrieval.bm25_prf_topk(docs2, qs, k=10, k_fb=2, m_terms=3),
    )
    # a stats-less rebuild drops the stale metadata tables
    retrieval.build_postings_index(
        docs, "es_test_postings_prf", n_buckets=4
    )
    assert not spark.catalog.tableExists("es_test_postings_prf__df")
    assert not spark.catalog.tableExists("es_test_postings_prf__stats")


def test_top_snippets_overlap_suppression(spark):
    """Round 2 may not pick a window whose start is within `window`
    tokens of round 1's pick; pairs with no remaining candidates yield
    fewer than s rows."""
    from embeddingsearch_spark.operators.snippets import (
        best_snippets,
        top_snippets,
    )

    # hits at positions 0,1 (dense cluster) and 20 (isolated): best
    # window starts at 0 (2 hits); second passage must start at 20
    text = (
        "cat cat "
        + " ".join(f"f{i}" for i in range(18))
        + " cat tail"
    )
    docs = spark.createDataFrame(
        [(1, text), (2, "cat alone here")], "doc_id long, text string"
    )
    qs = spark.createDataFrame(
        [(7, "cat")], "query_id long, text string"
    )
    out = top_snippets(docs, qs, window=10, s=3)
    rows = sorted(
        (r["doc_id"], r["snip_rank"], r["start"], r["n_hits"])
        for r in out.collect()
    )
    # doc 1: two passages (0 and 20); third round has nothing left
    assert (1, 1, 0, 2) in rows and (1, 2, 20, 1) in rows
    assert not any(d == 1 and sr == 3 for d, sr, _, _ in rows)
    # doc 2: a single candidate → one passage only
    assert (2, 1, 0, 1) in rows
    assert sum(1 for d, *_ in rows if d == 2) == 1
    # every selected pair of starts per doc is >= window apart
    starts = [s for d, _, s, _ in rows if d == 1]
    assert all(
        abs(a - b) >= 10
        for i, a in enumerate(starts)
        for b in starts[i + 1 :]
    )
    # rank-1 rows equal best_snippets
    b = {
        (r["doc_id"], r["start"], r["n_hits"])
        for r in best_snippets(docs, qs, window=10).collect()
    }
    got1 = {(d, s, n) for d, sr, s, n in rows if sr == 1}
    assert got1 == b


def test_rrf_fuse_arithmetic(spark):
    r1 = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rank long"
    )
    r2 = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id long, doc_id long, rank long"
    )
    out = {
        r["doc_id"]: r
        for r in retrieval.rrf_fuse([r1, r2], k=60).collect()
    }
    assert out[11]["n_rankings"] == 2
    assert abs(out[11]["rrf_score"] - round(1 / 61 + 1 / 62, 6)) < 1e-9
    assert abs(out[10]["rrf_score"] - round(1 / 61, 6)) < 1e-9
    # doc 11 appears in both rankings -> fused rank 1
    assert out[11]["fused_rank"] == 1
    # doc 10 (1/61) outranks doc 12 (1/62)
    assert out[10]["fused_rank"] == 2 and out[12]["fused_rank"] == 3


def test_prf_expansion_and_rescoring(spark):
    """PRF pulls co-occurring terms from feedback docs (excluding the
    original query terms) and the expanded query recalls docs the
    original missed."""
    docs = spark.createDataFrame(
        [
            (1, "solar panels convert sunlight into electricity"),
            (2, "solar energy and photovoltaic cells electricity grid"),
            (3, "photovoltaic cells power the grid"),
            (4, "completely unrelated cooking recipe with butter"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(100, "solar electricity")], "query_id long, text string"
    )
    exp = {
        r["term"]
        for r in retrieval.prf_expansion_terms(
            docs, qs, k_fb=2, m_terms=3
        ).collect()
    }
    # original terms never expand
    assert "solar" not in exp and "electricity" not in exp
    # feedback docs 1, 2 contribute their other terms
    assert exp <= {
        "panels", "convert", "sunlight", "into", "energy", "and",
        "photovoltaic", "cells", "grid",
    }
    assert len(exp) == 3

    base = {
        r["doc_id"]
        for r in retrieval.bm25_topk(docs, qs, k=10).collect()
    }
    assert base == {1, 2}  # doc 3 shares no original term
    prf = retrieval.bm25_prf_topk(docs, qs, k=10, k_fb=2, m_terms=3)
    got = {r["doc_id"] for r in prf.collect()}
    # expansion must recall doc 3 iff a photovoltaic/cells/grid term
    # made the top-3; the recipe doc stays unmatched either way
    assert 4 not in got
    assert {1, 2} <= got


def test_best_snippets_window_and_case(spark):
    from embeddingsearch_spark.operators.snippets import best_snippets

    docs = spark.createDataFrame(
        [
            (1, "Alpha beta GAMMA delta alpha beta words tail here now"),
            (2, "nothing relevant at all in this one"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(9, "alpha gamma")], "query_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in best_snippets(docs, qs, window=3).collect()
    }
    # doc 2 has no hits -> no row
    assert set(out) == {1}
    r = out[1]
    # window of 3 starting at 0 covers Alpha..GAMMA: 2 hits; the later
    # window at pos 2 (GAMMA delta alpha) also has 2 -> earliest wins
    assert r["start"] == 0 and r["n_hits"] == 2
    # snippet preserves original case
    assert r["snippet"] == "Alpha beta GAMMA"


def test_tokens_cjk_expansion(spark):
    """All-CJK tokens expand to overlapping bigrams; single CJK chars
    stay whole; Latin and mixed tokens pass through unchanged."""
    from embeddingsearch_spark.functions import text as T

    df = spark.createDataFrame(
        [
            (1, "的一是 hello 不"),
            (2, "mixed的token stays"),
            (3, ""),
            (4, "的一是不了"),
        ],
        "id long, text string",
    )
    got = {
        r["id"]: r["t"]
        for r in df.select(
            "id", T.tokens_cjk(F.col("text")).alias("t")
        ).collect()
    }
    assert got[1] == ["的一", "一是", "hello", "不"]
    # a token mixing scripts is NOT all-CJK -> passes through whole
    assert got[2] == ["mixed的token", "stays"]
    assert got[3] == []
    assert got[4] == ["的一", "一是", "是不", "不了"]


def test_bm25_cjk_subword_matching(spark):
    """With the CJK tokenizer a zh query matches docs sharing character
    bigrams even when no whitespace token is shared — and the
    whitespace tokenizer finds nothing."""
    from embeddingsearch_spark.functions import text as T

    docs = spark.createDataFrame(
        [(1, "的一是不 extra"), (2, "completely latin text")],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        # different whitespace token, shares bigrams 的一/一是 with doc 1
        [(9, "的一是")],
        "query_id long, text string",
    )
    assert retrieval.bm25_topk(docs, qs, k=5).count() == 0
    rows = retrieval.bm25_topk(
        docs, qs, k=5, tokenizer=T.tokens_cjk
    ).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 1
    assert rows[0]["n_matched"] == 2  # 的一 and 一是


def test_phrase_search_exact_windows(spark):
    """Consecutive-window semantics: phrases match only contiguous
    token runs; occurrences and the first 0-based start are counted;
    out-of-vocabulary phrase terms yield nothing; too-short and empty
    docs never error."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the cat sat mat"),
            (2, "cat the sat"),       # all terms, never consecutive
            (3, "the cat"),           # shorter than 3-term phrases
            (4, ""),
            (5, "prefix the cat sat"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "cat sat"),
            (3, "zzz_nomatch cat"),
            (4, "the"),
        ],
        "query_id long, text string",
    )
    got = {
        (r["query_id"], r["doc_id"]): (
            r["n_occurrences"], r["first_pos"]
        )
        for r in retrieval.phrase_search(docs, qs).collect()
    }
    assert got[(1, 1)] == (2, 0)      # "the cat sat" at 0 and 4
    assert got[(1, 5)] == (1, 1)
    assert (1, 2) not in got and (1, 3) not in got
    assert got[(2, 1)] == (2, 1)      # "cat sat" at 1 and 5
    assert got[(2, 5)] == (1, 2)
    assert not any(q == 3 for q, _ in got)   # OOV term anchors to df=0
    assert got[(4, 1)] == (2, 0)      # single-term phrase: "the" x2
    assert got[(4, 2)] == (1, 1)
    assert got[(4, 3)] == (1, 0) and got[(4, 5)] == (1, 1)
    assert not any(d == 4 for _, d in got)   # empty doc never matches


def test_federated_routed_equals_per_collection_bm25(spark):
    """Federated contract: routing every query to collection 'en' makes
    the partitioned-index result identical to plain bm25_topk over the
    en sub-corpus alone (per-collection stats == that collection's
    global stats) — and the partition filter reaches the scan."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en"),
            (2, "the dog sat on the log", "en"),
            (3, "der hund sitzt auf dem baumstamm", "de"),
            (4, "", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    qs = spark.createDataFrame(
        [(100, "the cat"), (101, "dog")], "query_id long, text string"
    )
    retrieval.build_partitioned_postings_index(
        docs, "es_test_postings_lang", partition_col="lang",
        n_buckets=2,
    )
    route = spark.createDataFrame(
        [(100, "en"), (101, "en")], "query_id long, lang string"
    )
    got = retrieval.bm25_federated_from_index(
        spark, "es_test_postings_lang", qs, route, k=10
    )
    want = retrieval.bm25_topk(
        docs.filter(F.col("lang") == "en").select("doc_id", "text"),
        qs,
        k=10,
    )
    assert _frames_equal(got, want)
    # partition pruning: the isin filter lands as a PartitionFilter
    pruned = spark.table("es_test_postings_lang").filter(
        F.col("lang").isin(["en"])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # cross-collection stats independence: df/idf of 'the' ignores de
    # docs entirely even though the index holds them
    mixed_route = spark.createDataFrame(
        [(100, "en"), (101, "de")], "query_id long, lang string"
    )
    got2 = {
        (r["query_id"], r["doc_id"])
        for r in retrieval.bm25_federated_from_index(
            spark, "es_test_postings_lang", qs, mixed_route, k=10
        ).collect()
    }
    # query 101 ("dog") routed to de matches nothing there
    assert got2 and not any(q == 101 for q, _ in got2)


def test_phrase_from_index_identical(spark):
    """The positional-index path returns phrase_search's exact frame —
    including repeated-term phrases, where a window start must
    accumulate every DISTINCT offset."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the cat sat mat"),
            (2, "cat the sat"),
            (3, "the the the"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the the"),
            (3, "zzz_nomatch"),
        ],
        "query_id long, text string",
    )
    retrieval.build_positions_index(
        docs, "es_test_positions", n_buckets=2
    )
    got = retrieval.phrase_search_from_index(
        spark, "es_test_positions", qs
    )
    want = retrieval.phrase_search(docs, qs)
    assert _frames_equal(got, want)
    rows = {
        (r["query_id"], r["doc_id"]): (
            r["n_occurrences"], r["first_pos"]
        )
        for r in got.collect()
    }
    # "the the" only in doc 3, twice (starts 0 and 1)
    assert rows[(2, 3)] == (2, 0)
    assert not any(q == 2 and d != 3 for q, d in rows)


def test_min_pair_distance_adjacent_pair_lemma(spark):
    """MinDist: the minimizing cross-term pair need not be the naive
    closest-in-text words — it is found by the adjacent-pair lag scan;
    single-term matches produce no row."""
    docs = spark.createDataFrame(
        [
            (1, "cat x x x dog cat"),      # cat@5,dog@4 -> dist 1
            (2, "cat cat cat dog"),        # adjacent same-term runs
            (3, "cat only here"),
            (4, "dog"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "cat dog")], "query_id long, text string"
    )
    got = {
        r["doc_id"]: r["min_dist"]
        for r in retrieval.min_pair_distance(docs, qs).collect()
    }
    assert got == {1: 1, 2: 1}


def test_bm25_proximity_reranks_tight_cooccurrence(spark):
    """Two docs with the identical term bag (identical BM25 score)
    rank by proximity: adjacent terms beat scattered ones."""
    docs = spark.createDataFrame(
        [
            (1, "cat dog x x x x"),   # adjacent: boost 1/(1+1)
            (2, "cat x x x x dog"),   # scattered: boost 1/(1+5)
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "cat dog")], "query_id long, text string"
    )
    plain = {
        r["doc_id"]: r["score"]
        for r in retrieval.bm25_topk(docs, qs, k=5).collect()
    }
    assert plain[1] == plain[2]  # identical bags -> tie, id tiebreak
    rows = {
        r["doc_id"]: r
        for r in retrieval.bm25_proximity_topk(docs, qs, k=5).collect()
    }
    assert rows[1]["rank"] == 1 and rows[2]["rank"] == 2
    assert rows[1]["min_dist"] == 1 and rows[2]["min_dist"] == 5
    assert abs(
        (rows[1]["score"] - rows[2]["score"]) - round(1 / 2 - 1 / 6, 6)
    ) < 1e-6


def test_bm25f_field_weighting(spark):
    """BM25F: a title hit outranks a body hit of the same term; with
    one field at weight 1 it reduces to field-local BM25-style scoring
    (single saturation); n_matched counts distinct terms across
    fields."""
    fields = spark.createDataFrame(
        [
            (1, "title", "cat story"),
            (1, "body", "a long tale about nothing much at all"),
            (2, "title", "dog story"),
            (2, "body", "a long tale about a cat and more words"),
            (3, "title", ""),
            (3, "body", "entirely unrelated content"),
        ],
        "doc_id long, field string, text string",
    )
    qs = spark.createDataFrame(
        [(1, "cat")], "query_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in retrieval.bm25f_topk(
            fields, qs, {"title": 2.0, "body": 1.0}, k=10
        ).collect()
    }
    # both docs contain "cat" once; doc 1 has it in the weighted,
    # shorter title field -> higher pseudo-frequency -> rank 1
    assert rows[1]["rank"] == 1 and rows[2]["rank"] == 2
    assert 3 not in rows
    assert rows[1]["n_matched"] == 1

    # same term in title AND body accumulates without double idf
    fields2 = spark.createDataFrame(
        [
            (1, "title", "cat"),
            (1, "body", "cat elsewhere"),
            (2, "title", "cat"),
            (2, "body", "unrelated text"),
        ],
        "doc_id long, field string, text string",
    )
    rows2 = {
        r["doc_id"]: r
        for r in retrieval.bm25f_topk(
            fields2, qs, {"title": 2.0, "body": 1.0}, k=10
        ).collect()
    }
    assert rows2[1]["score"] > rows2[2]["score"]
    assert rows2[1]["n_matched"] == 1  # distinct terms, not fields


def test_bm25_champion_identical_to_plain(spark):
    """Rank-safety of the tiered path at aggressive tiers: identical
    frame to bm25_topk at tier sizes from 1 (maximal pruning pressure,
    heavy fallback) through larger-than-corpus (tier == full lists)."""
    filler = "common words everywhere always"
    rows = [(i, f"{filler} rare{i % 5}" + " extra" * (i % 3))
            for i in range(60)] + [(60, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = spark.createDataFrame(
        [(1, f"{filler} rare0"), (2, "rare1"), (3, "zzz_nomatch")],
        "query_id long, text string",
    )
    plain = {k: _sorted_rows(retrieval.bm25_topk(docs, qs, k=k)) for k in (2, 10)}
    for tier in (1, 3, 8, 1000):
        for k in (2, 10):
            assert plain[k] == _sorted_rows(
                retrieval.bm25_topk_champion(docs, qs, k=k, tier=tier)
            ), (tier, k)


def test_bm25_champion_identical_on_testdata(spark, sf_dir):
    """Parity on the gated fixture inputs (realistic corpus)."""
    from embeddingsearch_spark.suite.realistic import derive_realistic_docs
    from embeddingsearch_spark.suite.retrievalops import _text_queries

    docs = derive_realistic_docs(spark, sf_dir)
    qs = _text_queries(spark, sf_dir, docs)
    assert _frames_equal(
        retrieval.bm25_topk(docs, qs, k=10),
        retrieval.bm25_topk_champion(docs, qs, k=10, tier=32),
    )


def test_bm25_proximity_pruned_identical(spark):
    """Rank-safe shortlist: pruned and from-index proximity equal the
    plain path for several k, including ties and single-term docs."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha x x x beta"),
            (3, "alpha alpha alpha"),
            (4, "beta beta beta"),
            (5, "gamma alpha beta"),
            (6, "x y z"),
            (7, "delta gamma beta alpha"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha")],
        "query_id long, text string",
    )
    from embeddingsearch_spark.storage import drop_table

    drop_table(spark, "es_test_prox_post")
    drop_table(spark, "es_test_prox_pos")
    retrieval.build_postings_index(docs, "es_test_prox_post", n_buckets=2)
    retrieval.build_positions_index(docs, "es_test_prox_pos", n_buckets=2)
    for k in (2, 3, 10):
        plain = retrieval.bm25_proximity_topk(docs, qs, k=k)
        assert _frames_equal(
            plain, retrieval.bm25_proximity_topk(docs, qs, k=k, prune=True)
        ), k
        assert _frames_equal(
            plain,
            retrieval.bm25_proximity_from_index(
                spark, "es_test_prox_post", "es_test_prox_pos", qs, k=k
            ),
        ), k


def test_bm25_champion_from_index_identical(spark):
    """Persisted-tier champion serve equals the plain ranking for
    several (tier, k), including a requested tier DEEPER than the
    stored one (degrades to the stored depth, stays rank-safe) and a
    post-upsert tier refresh."""
    from embeddingsearch_spark.storage import drop_table

    docs = spark.createDataFrame(
        [
            (i, f"common tok{i % 4} " + ("rare " if i % 7 == 0 else "")
             + f"w{i}")
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "common rare"), (2, "tok1 w3"), (3, "zzz")],
        "query_id long, text string",
    )
    drop_table(spark, "es_test_champ_post")
    drop_table(spark, "es_test_champ_post_tiers")
    retrieval.build_postings_index(docs, "es_test_champ_post", n_buckets=2)
    retrieval.save_champion_tier(
        spark, "es_test_champ_post", tier=4, n_buckets=2
    )
    plain = {k: _sorted_rows(retrieval.bm25_topk(docs, qs, k=k)) for k in (3, 10)}
    for tier in (1, 2, 4, 100):
        for k in (3, 10):
            assert plain[k] == _sorted_rows(
                retrieval.bm25_champion_from_index(
                    spark, "es_test_champ_post", qs, k=k, tier=tier
                )
            ), (tier, k)
    # upsert shifts tf distributions -> refresh the tier, still exact
    changed = spark.createDataFrame(
        [(2, "rare rare rare common"), (31, "common tok1 w31")],
        "doc_id long, text string",
    )
    retrieval.upsert_postings_index(
        spark, "es_test_champ_post", changed, n_buckets=2
    )
    retrieval.save_champion_tier(
        spark, "es_test_champ_post", tier=4, n_buckets=2
    )
    docs2 = docs.filter(F.col("doc_id") != 2).unionByName(changed)
    assert _frames_equal(
        retrieval.bm25_topk(docs2, qs, k=10),
        retrieval.bm25_champion_from_index(
            spark, "es_test_champ_post", qs, k=10, tier=4
        ),
    )


def test_upsert_positions_index_equals_rebuild(spark):
    """Positions upsert (changed + deleted) == fresh positional index
    over the remaining docs; phrase serving stays exact."""
    from embeddingsearch_spark.storage import drop_table

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "beta gamma delta"),
            (3, "gamma delta alpha"),
            (4, "delta alpha beta"),
        ],
        "doc_id long, text string",
    )
    drop_table(spark, "es_test_pos_up")
    retrieval.build_positions_index(
        docs.filter(F.col("doc_id") <= 3), "es_test_pos_up", n_buckets=2
    )
    changed = spark.createDataFrame(
        [(2, "beta beta echo"), (4, "delta alpha beta")],
        "doc_id long, text string",
    )
    deleted = spark.createDataFrame([(1,)], "doc_id long")
    retrieval.upsert_positions_index(
        spark, "es_test_pos_up", changed, n_buckets=2,
        deleted_ids=deleted,
    )
    remaining = spark.createDataFrame(
        [
            (2, "beta beta echo"),
            (3, "gamma delta alpha"),
            (4, "delta alpha beta"),
        ],
        "doc_id long, text string",
    )
    drop_table(spark, "es_test_pos_ref")
    retrieval.build_positions_index(
        remaining, "es_test_pos_ref", n_buckets=2
    )
    got = sorted(tuple(r) for r in spark.table("es_test_pos_up").collect())
    want = sorted(
        tuple(r) for r in spark.table("es_test_pos_ref").collect()
    )
    assert got == want
    qs = spark.createDataFrame(
        [(1, "delta alpha")], "query_id long, text string"
    )
    assert _frames_equal(
        retrieval.phrase_search(remaining, qs),
        retrieval.phrase_search_from_index(
            spark, "es_test_pos_up", qs
        ),
    )


def test_upsert_champion_tier_equals_full_rederive(spark):
    """Term-keyed tier maintenance: after a postings upsert (with a
    delete), refreshing ONLY the affected terms' tier rows equals the
    full save_champion_tier re-derive, and serving stays exact."""
    from embeddingsearch_spark.storage import drop_table

    docs = spark.createDataFrame(
        [
            (i, f"common tok{i % 3} w{i}" + (" rare" if i == 5 else ""))
            for i in range(12)
        ],
        "doc_id long, text string",
    )
    table = "es_test_champ_up"
    drop_table(spark, table)
    drop_table(spark, f"{table}_tiers")
    retrieval.build_postings_index(docs, table, n_buckets=2)
    retrieval.save_champion_tier(spark, table, tier=3, n_buckets=2)
    changed = spark.createDataFrame(
        [(3, "rare rare fresh common"), (20, "tok1 fresh w20")],
        "doc_id long, text string",
    )
    deleted = spark.createDataFrame([(5,)], "doc_id long")
    terms = retrieval.affected_terms_of_upsert(
        spark, table, changed, deleted_ids=deleted
    ).localCheckpoint(eager=True)
    retrieval.upsert_postings_index(
        spark, table, changed, n_buckets=2, deleted_ids=deleted
    )
    retrieval.upsert_champion_tier(
        spark, table, terms, tier=3, n_buckets=2
    )
    got = sorted(
        tuple(r) for r in spark.table(f"{table}_tiers").collect()
    )
    drop_table(spark, f"{table}_tiers")
    retrieval.save_champion_tier(spark, table, tier=3, n_buckets=2)
    want = sorted(
        tuple(r) for r in spark.table(f"{table}_tiers").collect()
    )
    assert got == want
    remaining = docs.filter(~F.col("doc_id").isin(3, 5)).unionByName(
        changed
    )
    qs = spark.createDataFrame(
        [(1, "rare common"), (2, "fresh tok1")],
        "query_id long, text string",
    )
    assert _frames_equal(
        retrieval.bm25_topk(remaining, qs, k=5),
        retrieval.bm25_champion_from_index(spark, table, qs, k=5, tier=3),
    )


def test_federated_wand_identical_to_federated_plain(spark):
    """Per-collection WAND pruning equals the plain federated serve
    for several k, including a query whose term is missing from its
    routed collection and a collection with fewer than k matches."""
    from embeddingsearch_spark.storage import drop_table

    docs = spark.createDataFrame(
        [
            (i, f"common tok{i % 4} en{i}", "en") for i in range(12)
        ] + [
            (100 + i, f"gemein tok{i % 3} de{i}", "de")
            for i in range(8)
        ],
        "doc_id long, text string, lang string",
    )
    qs = spark.createDataFrame(
        [
            (1, "common tok1"),
            (2, "gemein tok2"),
            (3, "common gemein"),   # one term missing per collection
            (4, "en3 tok0"),
        ],
        "query_id long, text string",
    )
    route = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "en"), (4, "en")],
        "query_id long, lang string",
    )
    table = "es_test_fed_wand"
    drop_table(spark, table)
    retrieval.build_partitioned_postings_index(
        docs, table, partition_col="lang", n_buckets=2
    )
    for k in (2, 5, 50):
        assert _frames_equal(
            retrieval.bm25_federated_from_index(
                spark, table, qs, route, k=k
            ),
            retrieval.bm25_federated_pruned_from_index(
                spark, table, qs, route, k=k
            ),
        ), k


def test_federated_composite_spec_prunes_both_levels(spark):
    """Composite (source, lang) federated serve: per-tuple collection
    stats (parity vs direct BM25 over exactly that tuple's docs), and
    the routed-tuple disjunction reaches the scan as PartitionFilters
    on BOTH levels."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en", "acme"),
            (2, "the dog sat on the log", "en", "globex"),
            (3, "the cat naps on the couch", "en", "acme"),
            (4, "der hund sitzt auf dem baumstamm", "de", "acme"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    qs = spark.createDataFrame(
        [(100, "the cat")], "query_id long, text string"
    )
    from embeddingsearch_spark.storage import drop_table

    drop_table(spark, "es_test_postings_tl")
    retrieval.build_partitioned_postings_index(
        docs, "es_test_postings_tl",
        partition_col=["source", "lang"], n_buckets=2,
    )
    route = spark.createDataFrame(
        [(100, "acme", "en")],
        "query_id long, source string, lang string",
    )
    got = retrieval.bm25_federated_from_index(
        spark, "es_test_postings_tl", qs, route, k=10,
        partition_col=["source", "lang"],
    )
    want = retrieval.bm25_topk(
        docs.filter(
            (F.col("source") == "acme") & (F.col("lang") == "en")
        ).select("doc_id", "text"),
        qs,
        k=10,
    )
    assert _frames_equal(got, want)
    # the literal disjunction prunes on BOTH partition levels
    from embeddingsearch_spark.operators.retrieval import (
        _partition_filter,
    )

    pruned = spark.table("es_test_postings_tl").filter(
        _partition_filter(
            ["source", "lang"], route.select("source", "lang").collect()
        )
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "source" in pf and "lang" in pf, plan


def test_federated_proximity_and_phrase_tenant_isolation(spark):
    """The tenant-partitioned positions index serves proximity and
    phrase TENANT-ISOLATED: each equals its single-corpus twin run
    over only the query's own tenant's docs — even though the terms
    and the exact phrase also occur in the other tenant."""
    from embeddingsearch_spark.storage import drop_table

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "acme"),
            (2, "alpha delta beta gamma", "acme"),
            (3, "alpha beta gamma delta", "globex"),  # same text!
            (4, "beta alpha unrelated filler", "globex"),
        ],
        "doc_id long, text string, source string",
    )
    qs = spark.createDataFrame(
        [(100, "alpha beta"), (101, "alpha beta")],
        "query_id long, text string",
    )
    route = spark.createDataFrame(
        [(100, "acme"), (101, "globex")],
        "query_id long, source string",
    )
    drop_table(spark, "es_test_ut_post")
    drop_table(spark, "es_test_ut_pos")
    retrieval.build_partitioned_postings_index(
        docs, "es_test_ut_post", partition_col="source", n_buckets=2
    )
    retrieval.build_partitioned_positions_index(
        docs, "es_test_ut_pos", partition_col="source", n_buckets=2
    )

    got_x = retrieval.bm25_proximity_federated_from_index(
        spark, "es_test_ut_post", "es_test_ut_pos", qs, route, k=10,
        partition_col="source",
    )
    want_x = None
    for tenant, qid in (("acme", 100), ("globex", 101)):
        part = retrieval.bm25_proximity_topk(
            docs.filter(F.col("source") == tenant).select(
                "doc_id", "text"
            ),
            qs.filter(F.col("query_id") == qid),
            k=10,
        )
        want_x = part if want_x is None else want_x.unionByName(part)
    assert _frames_equal(got_x, want_x)
    # isolation is load-bearing: doc 3 duplicates doc 1's text, so a
    # non-isolated serve would return it for query 100 too
    acme_docs = {
        r["doc_id"]
        for r in got_x.filter(F.col("query_id") == 100).collect()
    }
    assert acme_docs == {1, 2}

    phrase_qs = spark.createDataFrame(
        [(100, "beta gamma"), (101, "beta gamma")],
        "query_id long, text string",
    )
    got_p = retrieval.phrase_search_federated_from_index(
        spark, "es_test_ut_pos", phrase_qs, route,
        partition_col="source",
    )
    want_p = None
    for tenant, qid in (("acme", 100), ("globex", 101)):
        part = retrieval.phrase_search(
            docs.filter(F.col("source") == tenant).select(
                "doc_id", "text"
            ),
            phrase_qs.filter(F.col("query_id") == qid),
        )
        want_p = part if want_p is None else want_p.unionByName(part)
    assert _frames_equal(got_p, want_p)
    rows_p = {
        (r["query_id"], r["doc_id"]) for r in got_p.collect()
    }
    # "beta gamma" occurs in docs 1/2 (acme) and 3 (globex); each
    # query only sees its own tenant's occurrences
    assert rows_p == {(100, 1), (100, 2), (101, 3)}


def test_bm25_aliased_serve_per_tenant_generations(spark):
    """Per-tenant blue/green for BM25: globex reindexes into g2 with
    an UPDATED corpus and flips its alias row; acme keeps serving g1.
    The aliased serve returns acme's ranking from the old generation
    and globex's from the new one — each equal to the plain federated
    serve against that generation."""
    from embeddingsearch_spark.storage import (
        drop_table,
        set_tenant_index_alias,
    )

    alias = "es_test_bm25_bg"
    for t in ("_talias", "_g1", "_g2"):
        drop_table(spark, alias + t)
    docs1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "acme"),
            (2, "alpha filler words", "acme"),
            (3, "alpha beta gamma", "globex"),
            (4, "alpha old content", "globex"),
        ],
        "doc_id long, text string, source string",
    )
    retrieval.build_partitioned_postings_index(
        docs1, alias + "_g1", partition_col="source", n_buckets=2
    )
    set_tenant_index_alias(spark, alias, "acme", alias + "_g1")
    set_tenant_index_alias(spark, alias, "globex", alias + "_g1")
    # globex reindexes: doc 4 re-ingested with new text, doc 5 added
    docs2 = spark.createDataFrame(
        [
            (3, "alpha beta gamma", "globex"),
            (4, "completely different now", "globex"),
            (5, "alpha beta fresh doc", "globex"),
        ],
        "doc_id long, text string, source string",
    )
    retrieval.build_partitioned_postings_index(
        docs2, alias + "_g2", partition_col="source", n_buckets=2
    )
    set_tenant_index_alias(spark, alias, "globex", alias + "_g2")
    qs = spark.createDataFrame(
        [(100, "alpha beta"), (101, "alpha beta")],
        "query_id long, text string",
    )
    route = spark.createDataFrame(
        [(100, "acme"), (101, "globex")],
        "query_id long, source string",
    )
    got = retrieval.bm25_federated_serve_aliased(
        spark, alias, qs, route, k=10, partition_col="source"
    )
    want = None
    for qid, gen in ((100, "_g1"), (101, "_g2")):
        part = retrieval.bm25_federated_from_index(
            spark, alias + gen,
            qs.filter(F.col("query_id") == qid),
            route.filter(F.col("query_id") == qid),
            k=10, partition_col="source",
        )
        want = part if want is None else want.unionByName(part)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the flip is value-visible: globex sees the NEW corpus (doc 5
    # present, doc 4's old text gone), acme the old one
    g_docs = {
        r["doc_id"]
        for r in got.filter(F.col("query_id") == 101).collect()
    }
    assert 5 in g_docs and 4 not in g_docs
    a_docs = {
        r["doc_id"]
        for r in got.filter(F.col("query_id") == 100).collect()
    }
    assert a_docs == {1, 2}


def test_matched_term_cut_literal_guard(spark, monkeypatch):
    """The literal IN cut degrades to the broadcast semi-join above
    LITERAL_TERM_CUT_MAX (identical rows — the guard bounds plan size,
    never results), and a pre-collected `terms` list without
    literal=True raises instead of being silently discarded."""
    import pytest

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    post = retrieval._postings(docs, "doc_id", "text")
    qterms = retrieval.query_terms(qs)
    lit = retrieval.matched_term_cut(post, qterms, literal=True)
    # force the fallback: every real batch here exceeds a cap of 1
    monkeypatch.setattr(retrieval, "LITERAL_TERM_CUT_MAX", 1)
    guarded = retrieval.matched_term_cut(post, qterms, literal=True)
    assert _frames_equal(lit, guarded)
    # the guarded plan carries the join, not a literal IN list
    gplan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "isin" not in gplan and "IN (" not in gplan, gplan
    with pytest.raises(ValueError, match="literal"):
        retrieval.matched_term_cut(post, qterms, terms=["the"])


def test_partitioned_pstats_metadata_lifecycle(spark):
    """`save_partitioned_index_stats` persists exactly the federated
    serve's per-collection (N, avgdl) derivation; the serve reading it
    equals the derive path; an upsert refreshes it; a stats-less
    rebuild drops it; the forward twin follows the same lifecycle."""
    rows = [
        (1, "the cat sat", "en"),
        (2, "the dog sat on the log", "en"),
        (3, "le chat noir", "fr"),
        (4, "", "fr"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    qs = spark.createDataFrame(
        [(100, "the cat"), (101, "chat")], "query_id long, text string"
    )
    route = spark.createDataFrame(
        [(100, "en"), (101, "fr")], "query_id long, lang string"
    )
    t = "es_test_postings_ps"
    retrieval.build_partitioned_postings_index(
        docs, t, partition_col="lang", n_buckets=4, with_stats=True
    )
    assert spark.catalog.tableExists(f"{t}__pstats")
    with_meta = sorted(
        tuple(r)
        for r in retrieval.bm25_federated_from_index(
            spark, t, qs, route, k=10
        ).collect()
    )
    # derive path: same serve with the metadata dropped
    from embeddingsearch_spark.storage import drop_table

    meta = {
        (r["lang"]): (r["_n"], r["_avgdl"])
        for r in spark.table(f"{t}__pstats").collect()
    }
    assert meta["en"] == (2.0, 4.5) and meta["fr"][0] == 2.0
    drop_table(spark, f"{t}__pstats")
    derived = sorted(
        tuple(r)
        for r in retrieval.bm25_federated_from_index(
            spark, t, qs, route, k=10
        ).collect()
    )
    assert with_meta == derived
    # upsert refreshes (rebuild metadata first so the hook fires)
    retrieval.save_partitioned_index_stats(spark, t, "lang")
    changed = spark.createDataFrame(
        [(1, "completely new words here today", "en")],
        "doc_id long, text string, lang string",
    )
    retrieval.upsert_partitioned_postings_index(
        spark, t, changed, partition_col="lang", n_buckets=4
    )
    meta2 = {
        (r["lang"]): (r["_n"], r["_avgdl"])
        for r in spark.table(f"{t}__pstats").collect()
    }
    assert meta2["en"] == (2.0, 5.5)  # doc 1 now 5 tokens, doc 2 six
    assert meta2["fr"] == meta["fr"]
    # stats-less rebuild drops the metadata
    retrieval.build_partitioned_postings_index(
        docs, t, partition_col="lang", n_buckets=4
    )
    assert not spark.catalog.tableExists(f"{t}__pstats")
