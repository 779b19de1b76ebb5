"""Dedup + text-analysis operator tests on crafted fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_ml_spark.operators import dedup, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
    (4, "completely different content about spark engines"),
    (5, "el gato rapido y el perro que no es lento"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_duplicate_groups(spark, docs):
    out = dedup.exact_duplicate_groups(docs, "text", "doc_id").collect()
    assert len(out) == 1
    assert out[0]["keeper_id"] == 1 and out[0]["n_copies"] == 2


def test_jaccard_identical_is_one(spark, docs):
    sh = docs.select(
        "doc_id", dedup.char_shingles("text", 3).alias("sh")
    )
    a = sh.filter("doc_id = 1").select(F.col("sh").alias("a"))
    b = sh.filter("doc_id = 2").select(F.col("sh").alias("b"))
    sim = a.crossJoin(b).select(dedup.jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0]["j"]
    assert sim == pytest.approx(1.0)


def test_ngram_jaccard_pairs_finds_near_dup(spark, docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_finds_near_dups(spark, docs):
    out = dedup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert not any(4 in p for p in pairs)


def test_simhash_identical_zero_hamming(spark, docs):
    out = dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=0)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert pairs.get((1, 2)) == 0


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello world, 42 times!")], ["doc_id", "text"])
    r = text.token_counts(df, "doc_id", "text").collect()[0]
    assert r["n_ws_tokens"] == 4
    # hello | world | , | 42 | times | !
    assert r["n_bpe_tokens"] == 6


def test_quality_scores(spark):
    df = spark.createDataFrame([(1, "abc de!")], ["doc_id", "text"])
    r = text.quality_scores(df, "doc_id", "text").collect()[0]
    assert r["n_chars"] == 7 and r["n_words"] == 2
    assert r["punct_ratio"] == pytest.approx(1 / 7)
    assert r["alpha_ratio"] == pytest.approx(5 / 7)


def test_gopher_quality_filters(spark):
    """Each Gopher rule fires independently; all-integer decisions."""
    long_good = "the cat is that of a " + "word " * 60  # 66 words, stopwords, alpha
    short = "the cat is here"  # 4 words -> fails word count
    no_alpha = " ".join(["123"] * 60) + " the a is that"  # alpha frac 4/64 < 80%
    long_words = " ".join(["abcdefghijklmnop"] * 60) + " the a of to"  # mwl > 10
    no_stop = "word " * 60  # zero stopword hits
    df = spark.createDataFrame(
        [(1, long_good), (2, short), (3, no_alpha), (4, long_words), (5, no_stop)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.gopher_quality_filters(df, "doc_id", "text").collect()}
    assert out[1]["keep"] is True and all(
        out[1][f] for f in ("ok_word_count", "ok_mean_word_len", "ok_alpha_words", "ok_stopwords")
    )
    assert out[2]["keep"] is False and out[2]["ok_word_count"] is False
    assert out[3]["keep"] is False and out[3]["ok_alpha_words"] is False
    assert out[4]["keep"] is False and out[4]["ok_mean_word_len"] is False
    assert out[5]["keep"] is False and out[5]["ok_stopwords"] is False
    # integer evidence columns exact
    assert out[2]["n_words"] == 4 and out[2]["sum_word_chars"] == len("thecatishere")
    assert out[5]["n_stop_hits"] == 0 and out[1]["n_stop_hits"] >= 2


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house"),
            (2, "el gato y la casa de que un perro"),
            (3, "zzz qqq xxx"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in text.language_id(df, "doc_id", "text").collect()}
    assert out == {1: "en", 2: "es", 3: "und"}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "different")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(df, "doc_id", "text").collect()}
    assert out[1] == out[2] and out[1] != out[3]


def test_connected_components_chain_and_triangle(spark):
    """Chain 1-2-3 and triangle 10-11-12 + isolated pair 20-21: min-label
    components, converging past direct neighbors (label must traverse the
    chain)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r["id"]: r["group_id"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain(spark):
    """A 12-node path needs ~diameter rounds — exercises the iteration."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["group_id"] for r in dedup.connected_components(pairs).collect()}
    assert set(got.values()) == {100}
    assert len(got) == 13


def test_canonical_per_group_longest_wins(spark):
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "aaaa"), (3, "aaa"), (20, "bb"), (21, "bb")],
        ["doc_id", "text"],
    )
    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (20, 20), (21, 20)], ["id", "group_id"]
    )
    got = {
        r["group_id"]: r["canonical_id"]
        for r in dedup.canonical_per_group(docs, groups, "doc_id", "text").collect()
    }
    assert got == {1: 2, 20: 20}  # longest text; tie -> smallest id


def test_connected_components_raises_when_unconverged(spark):
    """Silently returning partial labels splits real dup groups — the
    operator must raise instead (ADVICE r2: convergence guard)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 30)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_connected_components_pointer_jump_log_rounds(spark):
    """Pointer-jump doubling: a 64-node path must converge in O(log d)
    rounds — 10 rounds would be far too few for plain 1-step propagation
    (needs ~64), but doubling covers 2^k distance per round."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 64)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["group_id"]
        for r in dedup.connected_components(pairs, max_iter=10).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 65


def test_embedding_near_dup_refuses_big_frame(spark):
    """The exact all-pairs path enforces its small-set contract by code,
    not comments: above max_rows it raises instead of collecting the
    corpus to the driver."""
    emb = spark.range(0, 50).selectExpr(
        "id as vec_id", "array(cast(id as double), 1.0d) as embedding"
    )
    with pytest.raises(ValueError, match="refuses"):
        dedup.embedding_near_dup_pairs(emb, "vec_id", "embedding", max_rows=10)


def test_repetition_scores_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a"),      # tokens 5, distinct 2; bigrams: ab,ba,ab,ba -> top 2/4
            (2, "x y z"),          # no repetition; bigrams xy,yz -> top 1/2
            (3, "w w w w"),        # tokens 4 distinct 1; bigrams ww x3 -> top 3/3
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.repetition_scores(df, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 5 and out[1]["dup_word_frac"] == pytest.approx(3 / 5)
    assert out[1]["top_bigram_n"] == 2 and out[1]["n_bigrams"] == 4
    assert out[2]["dup_word_frac"] == 0.0 and out[2]["top_bigram_n"] == 1
    assert out[3]["dup_word_frac"] == pytest.approx(3 / 4)
    assert out[3]["top_bigram_n"] == 3 and out[3]["top_bigram_frac"] == 1.0


def test_repetition_scores_plan_has_no_aggregation_shuffle(spark):
    """The load-bearing design property: per-doc repetition stats come from
    a sorted-run fold inside one narrow projection — no hash-partition
    Exchange and no HashAggregate anywhere (the naive explode+groupBy
    formulation shuffles every token of the corpus). The only Exchange
    allowed is the rangepartitioning of the ordered output contract."""
    df = spark.createDataFrame([(1, "a b a")], ["doc_id", "text"])
    plan = (
        text.repetition_scores(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_ngram_contamination_finds_shared_passages(spark):
    shared = "the quick brown fox jumps over the lazy dog"
    df_probe = spark.createDataFrame([(100, shared)], ["doc_id", "text"])
    df_corpus = spark.createDataFrame(
        [
            (1, "prefix words " + shared + " suffix words"),  # contains all 8-grams? at least one
            (2, "completely different content with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    out = text.ngram_contamination(df_corpus, df_probe, "doc_id", "text", n=8).collect()
    got = {r["doc_id"]: (r["n_matched_ngrams"], r["n_probes_hit"]) for r in out}
    assert 1 in got and got[1][1] == 1
    assert 2 not in got
    # probe has 2 distinct 8-grams (9 tokens), doc 1 contains both
    assert got[1][0] == 2


def test_ngram_contamination_broadcasts_probe_side(spark):
    df = spark.createDataFrame([(i, f"tok{i} a b c d e f g h") for i in range(20)], ["doc_id", "text"])
    probes = df.filter("doc_id < 2")
    plan = (
        text.ngram_contamination(df, probes, "doc_id", "text", n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_stratified_corpus_sample_deterministic_and_banded(spark):
    df = spark.createDataFrame(
        [(i, "hi" if i % 2 else "lo") for i in range(400)], ["doc_id", "band"]
    )
    cutoffs = {"hi": "g0", "lo": "40"}
    out1 = text.stratified_corpus_sample(df, "doc_id", "band", cutoffs)
    out2 = text.stratified_corpus_sample(df.repartition(7), "doc_id", "band", cutoffs)
    rows1 = sorted(r["doc_id"] for r in out1.collect())
    rows2 = sorted(r["doc_id"] for r in out2.collect())
    assert rows1 == rows2  # partitioning-independent
    kept = {r["band"]: 0 for r in out1.collect()}
    for r in out1.collect():
        kept[r["band"]] += 1
    assert kept["hi"] == 200            # 'g0' keeps every row of the band
    assert 0 < kept.get("lo", 0) < 200  # '40' ~ 25% keeps a strict subset
    # unknown bands are dropped, not silently kept
    extra = spark.createDataFrame([(999, "mystery")], ["doc_id", "band"])
    assert text.stratified_corpus_sample(extra, "doc_id", "band", cutoffs).count() == 0


def test_pii_scrub_masks_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@corp.example.com now"),
            (2, "call 555-123-4567 or 555-999-0000"),
            (3, "server at 192.168.1.200 is up"),
            (4, "clean text with no pii at all"),
            (5, "a@b.io and 10.0.0.1 and 111-222-3333"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.pii_scrub(df, "doc_id", "text").collect()}
    assert rows[1]["n_email"] == 1 and "[EMAIL]" in rows[1]["clean_text"]
    assert "bob.smith" not in rows[1]["clean_text"]
    assert rows[2]["n_phone"] == 2 and rows[2]["clean_text"].count("[PHONE]") == 2
    assert rows[3]["n_ip"] == 1 and "[IP]" in rows[3]["clean_text"]
    assert rows[4]["n_email"] == rows[4]["n_phone"] == rows[4]["n_ip"] == 0
    assert rows[4]["clean_text"] == "clean text with no pii at all"
    r5 = rows[5]
    assert (r5["n_email"], r5["n_phone"], r5["n_ip"]) == (1, 1, 1)
    # masking runs JVM-side: no Python evaluation in the plan
    plan = (
        text.pii_scrub(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan, plan


def test_extract_urls_and_domain_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "read https://a.example.org/x and http://b.example.net"),
            (2, "again https://a.example.org/y/z"),
            (3, "no links here"),
        ],
        ["doc_id", "text"],
    )
    urls = text.extract_urls(df, "doc_id", "text").collect()
    assert {(r["url"], r["domain"]) for r in urls} == {
        ("https://a.example.org/x", "a.example.org"),
        ("http://b.example.net", "b.example.net"),
        ("https://a.example.org/y/z", "a.example.org"),
    }
    counts = {r["domain"]: (r["n_urls"], r["n_docs"]) for r in text.domain_counts(df, "doc_id", "text").collect()}
    assert counts == {"a.example.org": (2, 2), "b.example.net": (1, 1)}


def test_winnowing_shared_passage_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length >= w+k-1
    share at least one fingerprint; unrelated docs (distinct char sets)
    share none. Fingerprints are partitioning-independent."""
    passage = "the quick brown fox jumps over the lazy dog repeatedly"
    df = spark.createDataFrame(
        [
            (1, "intro words before " + passage + " and trailing content here"),
            (2, "совершенно другой префикс " + passage),
            (3, "zzzz qqqq vvvv kkkk xxxx wwww yyyy jjjj ffff gggg hhhh nnnn"),
        ],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, text.winnow_fingerprints(df, "doc_id", "text").collect()))
    fps = {}
    for doc_id, fp in a:
        fps.setdefault(doc_id, set()).add(fp)
    assert fps[1] & fps[2]
    assert not fps[1] & fps[3] and not fps[2] & fps[3]
    # determinism under different physical partitioning
    b = sorted(map(tuple, text.winnow_fingerprints(df.repartition(5), "doc_id", "text").collect()))
    assert a == b
    # short docs (no complete window) are excluded, not half-fingerprinted
    short = spark.createDataFrame([(9, "tiny text")], ["doc_id", "text"])
    assert text.winnow_fingerprints(short, "doc_id", "text").count() == 0


class TestSpanDedup:
    def _corpus(self, spark):
        # doc 1 & 2 share a 12-token boilerplate header; doc 3 repeats its
        # own 10-token sentence twice; doc 4 is clean; doc 5 is shorter
        # than n and must be untouched
        boiler = "this license text is identical across documents and must be removed entirely now"
        rep = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (1, boiler + " unique tail one two three"),
            (2, boiler + " different ending words here"),
            (3, rep + " filler middle words go here " + rep),
            (4, "a perfectly unique document with no repeated spans at all kept whole"),
            (5, "too short"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_stats_match_python_reference(self, spark):
        import hashlib

        df = self._corpus(spark)
        n = 10
        texts = {r["doc_id"]: r["text"] for r in df.collect()}
        # python replay of the exact same algorithm
        from collections import Counter

        occ = Counter()
        pos_grams = {}
        for d, t in texts.items():
            toks = t.split()
            grams = [
                hashlib.md5(" ".join(toks[i : i + n]).encode()).hexdigest()[:16]
                for i in range(len(toks) - n + 1)
            ] if len(toks) >= n else []
            pos_grams[d] = grams
            occ.update(grams)
        expected = {}
        for d, grams in pos_grams.items():
            hits = [i for i, g in enumerate(grams) if occ[g] >= 2]
            spans = []
            for p in hits:
                if spans and p <= spans[-1][1]:
                    spans[-1][1] = max(spans[-1][1], p + n)
                else:
                    spans.append([p, p + n])
            removed = sum(e - s for s, e in spans)
            expected[d] = (len(texts[d].split()), len(spans), removed)
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_spans"], r["n_removed_tokens"])
            for r in dedup.duplicated_span_stats(df, "doc_id", "text", n=n).collect()
        }
        assert got == expected
        assert got[4][1] == 0 and got[5][1] == 0  # clean + short untouched
        assert got[1][1] >= 1 and got[3][1] >= 1  # cross-doc + within-doc found


class TestBpeTrain:
    def _reference_bpe(self, corpus, n_merges, min_pair_freq=2):
        """Reference python BPE with the same tie-break (freq DESC, l, r)
        and greedy left-to-right merge application."""
        from collections import Counter

        words = Counter()
        for t in corpus:
            for w in t.split():
                if w:
                    words[w] += 1
        vocab = {w: list(w) for w in words}
        merges = []
        for rank in range(n_merges):
            pf = Counter()
            for w, f in words.items():
                sym = vocab[w]
                for i in range(len(sym) - 1):
                    pf[(sym[i], sym[i + 1])] += f
            if not pf:
                break
            best = min(pf.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            (l, r), f = best
            if f < min_pair_freq:
                break
            merges.append((rank, l, r, l + r, f))
            for w in vocab:
                sym, out, i = vocab[w], [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                vocab[w] = out
        return merges

    def test_matches_reference(self, spark):
        corpus = [
            "low lower lowest low low",
            "new newer newest new newer",
            "wider wide wide widest",
            "low new wide lower",
        ]
        df = spark.createDataFrame([(t,) for t in corpus], ["text"])
        got = text.bpe_train(df, "text", n_merges=8)
        assert got == self._reference_bpe(corpus, 8)
        assert len(got) == 8  # corpus is rich enough for all 8 merges
        # merged tokens actually compose multi-char units
        assert any(len(m[3]) >= 3 for m in got)

    def test_stops_below_min_freq(self, spark):
        df = spark.createDataFrame([("ab cd ef",)], ["text"])
        got = text.bpe_train(df, "text", n_merges=5, min_pair_freq=2)
        assert got == []  # every pair occurs once

    def _reference_bpe_batched(self, corpus, n_merges, k, min_pair_freq=2):
        """Python reference of the BATCHED trainer: per round count pairs
        once, greedily select up to k symbol-disjoint pairs in
        (freq DESC, l, r) order, apply all simultaneously LTR."""
        from collections import Counter

        words = Counter()
        for t in corpus:
            for w in t.split():
                if w:
                    words[w] += 1
        vocab = {w: list(w) for w in words}
        merges = []
        while len(merges) < n_merges:
            want = min(k, n_merges - len(merges))
            pf = Counter()
            for w, f in words.items():
                sym = vocab[w]
                for i in range(len(sym) - 1):
                    pf[(sym[i], sym[i + 1])] += f
            used, picked = set(), []
            for (l, r), f in sorted(
                pf.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            ):
                if f < min_pair_freq:
                    break
                if l in used or r in used or (l + r) in used:
                    continue
                picked.append((l, r, f))
                used.update((l, r, l + r))
                if len(picked) >= want:
                    break
            if not picked:
                break
            for l, r, f in picked:
                merges.append((len(merges), l, r, l + r, f))
            rules = {(l, r): l + r for l, r, _ in picked}
            for w in vocab:
                sym, out, i = vocab[w], [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and (sym[i], sym[i + 1]) in rules:
                        out.append(rules[(sym[i], sym[i + 1])])
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                vocab[w] = out
        return merges

    def test_batched_matches_reference(self, spark):
        corpus = [
            "low lower lowest low low",
            "new newer newest new newer",
            "wider wide wide widest",
            "low new wide lower",
            "the then there these the the then",
        ]
        df = spark.createDataFrame([(t,) for t in corpus], ["text"])
        for k in (3, 8):
            got = text.bpe_train_batched(
                df, "text", n_merges=12, merges_per_round=k
            )
            assert got == self._reference_bpe_batched(corpus, 12, k)
            assert len(got) == 12
            # the round-13 small-vocab driver path (taken by default on
            # this corpus) must be bit-identical to the distributed
            # rounds (forced with driver_vocab_rows=0) — both against
            # the same reference
            assert got == text.bpe_train_batched(
                df, "text", n_merges=12, merges_per_round=k,
                driver_vocab_rows=0,
            )

    def test_batched_k1_equals_sequential(self, spark):
        """k=1 batched IS the classic algorithm (bpe_train delegates)."""
        corpus = ["low lower lowest low low", "new newer newest new newer"]
        df = spark.createDataFrame([(t,) for t in corpus], ["text"])
        assert text.bpe_train_batched(
            df, "text", n_merges=6, merges_per_round=1
        ) == self._reference_bpe(corpus, 6)

    def test_batched_rejects_nonpositive_k(self, spark):
        df = spark.createDataFrame([("a b",)], ["text"])
        with pytest.raises(ValueError, match="merges_per_round"):
            text.bpe_train_batched(df, "text", merges_per_round=0)


class TestBM25:
    def test_components_exact(self, spark):
        from end_to_end_ml_spark.operators.text import bm25_components

        docs = spark.createDataFrame(
            [(1, "the cat sat on the mat"), (2, "the dog"), (3, "cat cat cat dog")],
            ["doc_id", "text"],
        )
        out = {
            (r["doc_id"], r["term"]): r.asDict()
            for r in bm25_components(docs, "doc_id", "text", ["cat", "dog"]).collect()
        }
        assert set(out) == {(1, "cat"), (3, "cat"), (2, "dog"), (3, "dog")}
        r = out[(3, "cat")]
        assert (r["tf"], r["dl"], r["df_t"], r["n_docs"], r["total_tokens"]) == (3, 4, 2, 3, 12)
        assert out[(2, "dog")]["tf"] == 1 and out[(2, "dog")]["dl"] == 2

    def test_empty_terms_raise(self, spark):
        from end_to_end_ml_spark.operators.text import bm25_components

        docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            bm25_components(docs, "doc_id", "text", [])


class TestBpeEncode:
    def _python_bpe(self, word, merges):
        sym = list(word)
        for _rank, l, r, m, _pf in sorted(merges, key=lambda x: x[0]):
            out = []
            for s in sym:
                if out and out[-1] == l and s == r:
                    out[-1] = m
                else:
                    out.append(s)
            sym = out
        return sym

    def test_roundtrip_with_trainer(self, spark):
        from end_to_end_ml_spark.operators.text import bpe_encode, bpe_train

        docs = spark.createDataFrame(
            [(1, "low lower lowest low low"), (2, "newer newest new lower")],
            ["doc_id", "text"],
        )
        merges = bpe_train(docs, "text", n_merges=6, min_pair_freq=2)
        assert merges, "trainer found no merges"
        out = bpe_encode(docs, "text", merges).collect()
        for row in out:
            expect = []
            for w in row["text"].split():
                expect.extend(self._python_bpe(w, merges))
            assert row["bpe_tokens"] == expect
            assert row["n_bpe_tokens"] == len(expect)

    def test_no_merges_chars(self, spark):
        from end_to_end_ml_spark.operators.text import bpe_encode

        docs = spark.createDataFrame([(1, "ab c")], ["doc_id", "text"])
        out = bpe_encode(docs, "text", []).collect()[0]
        assert out["bpe_tokens"] == ["a", "b", "c"]

    def test_batched_encode_parity(self, spark):
        """The Arrow-batched production path must be row-identical to the
        JVM expression form — same word rule (split/trim, len>0 filter),
        same greedy-LTR fold, same columns — incl. cache-hit repeats,
        punctuation, empty and whitespace-only text."""
        from end_to_end_ml_spark.operators.text import (
            bpe_encode,
            bpe_encode_batched,
            bpe_train,
        )

        docs = spark.createDataFrame(
            [
                (1, "low lower lowest low low"),
                (2, "newer newest new lower"),
                (3, "  low   low\tlower  "),  # repeated words -> memo hits
                (4, "aaaa a,b!"),  # cascades + punctuation stay in-word
                (5, ""),
                (6, "   "),
            ],
            ["doc_id", "text"],
        )
        merges = bpe_train(docs, "text", n_merges=6, min_pair_freq=2)
        assert merges
        expr = {
            r["doc_id"]: (r["bpe_tokens"], r["n_bpe_tokens"])
            for r in bpe_encode(docs, "text", merges).collect()
        }
        batched = {
            r["doc_id"]: (r["bpe_tokens"], r["n_bpe_tokens"])
            for r in bpe_encode_batched(docs, "text", merges).collect()
        }
        assert batched == expr and len(batched) == 6

    def test_batched_encode_null_text(self, spark):
        from end_to_end_ml_spark.operators.text import bpe_encode_batched

        docs = spark.createDataFrame(
            [(1, "ab"), (2, None)], "doc_id INT, text STRING"
        )
        out = {
            r["doc_id"]: (r["bpe_tokens"], r["n_bpe_tokens"])
            for r in bpe_encode_batched(docs, "text", []).collect()
        }
        assert out[1] == (["a", "b"], 2)
        assert out[2] == (None, None)

    def test_batched_encode_count_only_parity(self, spark):
        """emit_tokens=False (x18b's count-only Arrow payload) must agree
        with the array path's n_bpe_tokens on every row — incl. memo hits,
        cascading merges, empty/whitespace-only and NULL text — and must
        not emit the token array column at all."""
        from end_to_end_ml_spark.operators.text import (
            bpe_encode_batched,
            bpe_train,
        )

        docs = spark.createDataFrame(
            [
                (1, "low lower lowest low low"),
                (2, "newer newest new lower"),
                (3, "  low   low\tlower  "),
                (4, "aaaa a,b!"),
                (5, ""),
                (6, "   "),
                (7, None),
            ],
            "doc_id INT, text STRING",
        )
        merges = bpe_train(
            docs.filter("text is not null"), "text", n_merges=6, min_pair_freq=2
        )
        assert merges
        full = bpe_encode_batched(docs, "text", merges)
        counted = bpe_encode_batched(docs, "text", merges, emit_tokens=False)
        assert "bpe_tokens" not in counted.columns
        assert counted.columns == [c for c in full.columns if c != "bpe_tokens"]
        want = {r["doc_id"]: r["n_bpe_tokens"] for r in full.collect()}
        got = {r["doc_id"]: r["n_bpe_tokens"] for r in counted.collect()}
        assert got == want and len(got) == 7


def test_minhash_probe_matches_full_pairs(spark, docs):
    """Incremental probe (batch vs history) must equal the cross-split
    slice of the FULL minhash pair set — same hash family/seed, so a doc
    pair meets in the same bands regardless of which side it arrives on."""
    batch = docs.filter(F.col("doc_id") % 2 == 0)
    hist = docs.filter(F.col("doc_id") % 2 == 1)
    probe = dedup.minhash_probe_pairs(
        batch, hist, "doc_id", "text", threshold=0.5
    )
    got = {
        (r["new_id"], r["hist_id"], round(r["jaccard_sim"], 9))
        for r in probe.collect()
    }
    full = dedup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    want = set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        j = round(r["jaccard_sim"], 9)
        if a % 2 == 0 and b % 2 == 1:
            want.add((a, b, j))
        elif b % 2 == 0 and a % 2 == 1:
            want.add((b, a, j))
    assert got == want and got  # non-vacuous: (1,2) crosses the split


def _minhash_index(hist, bands: int = 16):
    """A MinHashIndex over persisted history signature and band frames,
    built the way tools/run_curation_pipeline.py builds its index."""
    from end_to_end_ml_spark.materialize import persist

    sig, sig_owned = persist(
        dedup.minhash_signatures_agg(hist, "doc_id", dedup.char_shingles("text", 3))
    )
    bands_df, bands_owned = persist(dedup._banded(sig, 64, bands))
    return dedup.MinHashIndex(
        sig, bands_df, (sig_owned, bands_owned),
        num_hashes=64, bands=bands, seed=42, shingle_size=3,
    )


def test_minhash_probe_with_prebuilt_index(spark, docs):
    """The maintenance-loop contract (round-7 verdict #4): an index built
    ONCE serves multiple probe batches with results identical to the
    per-call recompute path, the only per-call cache is the batch
    signature, and unpersist() releases the index frames."""
    hist = docs.filter(F.col("doc_id") % 2 == 1)
    idx = _minhash_index(hist)
    for mod in (0, 2):  # two ingest batches against the same index
        batch = docs.filter(F.col("doc_id") % 4 == mod)
        via_index = dedup.minhash_probe_pairs(
            batch, hist, "doc_id", "text", threshold=0.5, index=idx
        ).collect()
        recompute = dedup.minhash_probe_pairs(
            batch, hist, "doc_id", "text", threshold=0.5
        ).collect()
        assert via_index == recompute
    idx.unpersist()
    idx.unpersist()  # idempotent


def test_minhash_probe_index_param_mismatch(spark, docs):
    hist = docs.filter(F.col("doc_id") % 2 == 1)
    idx = _minhash_index(hist, bands=16)
    try:
        with pytest.raises(ValueError, match="different LSH parameters"):
            dedup.minhash_probe_pairs(
                docs, hist, "doc_id", "text", bands=8, index=idx
            )
    finally:
        idx.unpersist()


def test_simhash_md5_family_basics(spark, docs):
    """The engine-portable md5 hash family: exact dups at hamming 0, the
    near-dup at small hamming, unrelated docs not within 3."""
    out = dedup.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3, hash_family="md5"
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert got.get((1, 2)) == 0  # exact dup
    assert not any(4 in p or 5 in p for p in got)


def test_simhash_rejects_unknown_family(spark, docs):
    with pytest.raises(ValueError, match="hash_family"):
        dedup.simhash(docs, "doc_id", "text", hash_family="sha9")


def test_prefix_filter_jaccard_matches_bruteforce(spark):
    """Prefix filtering must find EXACTLY the pairs the quadratic scan
    finds (lossless candidate rule) — parity on a corpus with rare AND
    ubiquitous tokens, thresholds tight around the planted pairs."""
    docs = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),      # J(1,2)=4/6=0.667
        (3, "alpha beta gamma theta iota"),      # J(1,3)=3/7≈0.43
        (4, "omega psi chi phi upsilon"),        # disjoint-ish
        (5, "omega psi chi phi upsilon"),        # J(4,5)=1.0
        (6, "alpha omega"),                      # tiny doc
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["union_sz"])
        for r in dedup.prefix_filter_jaccard_pairs(
            df, "doc_id", "text", threshold_x100=60
        ).collect()
    }
    # brute force in python
    sets = {i: set(t.split()) for i, t in docs}
    want = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j:
                inter = len(sets[i] & sets[j])
                uni = len(sets[i] | sets[j])
                if 100 * inter >= 60 * uni:
                    want[(i, j)] = (inter, uni)
    assert got == want and (1, 2) in got and (4, 5) in got


def test_prefix_filter_jaccard_rejects_bad_threshold(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        dedup.prefix_filter_jaccard_pairs(df, "doc_id", "text", threshold_x100=0)


def test_prefix_filter_jaccard_bigram_tokens_match_bruteforce(spark):
    """ngram=2 (w-shingling): parity with the quadratic scan over
    bigram SETS — including a doc too short to emit any bigram (it must
    simply never pair) and order-sensitive near-misses (same words,
    different order => different bigrams)."""
    docs = [
        (1, "a b c d e"),
        (2, "a b c d f"),       # bigrams share {a b, b c, c d}: J=3/5=0.6
        (3, "e d c b a"),       # same words REVERSED: shares no bigram with 1
        (4, "a b c d e"),       # exact dup of 1: J=1
        (5, "x"),               # single word: zero bigrams, never pairs
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["union_sz"])
        for r in dedup.prefix_filter_jaccard_pairs(
            df, "doc_id", "text", threshold_x100=60, ngram=2
        ).collect()
    }
    def bigrams(t):
        w = t.split()
        return {f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)}
    sets = {i: bigrams(t) for i, t in docs}
    want = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j and sets[i] and sets[j]:
                inter = len(sets[i] & sets[j])
                uni = len(sets[i] | sets[j])
                if 100 * inter >= 60 * uni:
                    want[(i, j)] = (inter, uni)
    assert got == want and (1, 2) in got and (1, 4) in got
    assert not any(5 in p for p in got)
    assert not any((1, 3) == p for p in got)


def _plan_nodes(node):
    nodes = [node]
    children = node.children()
    for i in range(children.size()):
        nodes += _plan_nodes(children.apply(i))
    return nodes


def test_prefix_filter_jaccard_plan_shape(spark):
    """The d16 join shape, read off the pre-AQE physical plan: the two
    verify joins are shuffled-hash (hinted), the candidate self-join stays
    the planner's sort-merge, the raw candidate pairs are not repartitioned
    before their dedup, and the ranked token arrays reach every join as
    INT ids (the vocab fits the driver-side bound)."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "e d c b a"), (4, "a b c d e")],
        ["doc_id", "text"],
    )
    qe = dedup.prefix_filter_jaccard_pairs(
        df, "doc_id", "text", threshold_x100=60, ngram=2
    )._jdf.queryExecution()
    nodes = _plan_nodes(qe.sparkPlan())
    names = [n.nodeName() for n in nodes]
    assert names.count("ShuffledHashJoin") == 2, names
    assert names.count("SortMergeJoin") == 1, names
    # before EnsureRequirements only an explicit repartition plans an Exchange
    assert "Exchange" not in names, names
    logical = [n.nodeName() for n in _plan_nodes(qe.optimizedPlan())]
    assert "RepartitionByExpression" not in logical, logical
    stoks_leaves = [
        n.schema().simpleString()
        for n in nodes
        if n.children().size() == 0 and "stoks" in list(n.schema().fieldNames())
    ]
    assert stoks_leaves, names
    assert all("stoks:array<int>" in s for s in stoks_leaves), stoks_leaves


def test_prefix_filter_jaccard_rejects_bad_ngram(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="ngram"):
        dedup.prefix_filter_jaccard_pairs(df, "doc_id", "text", ngram=0)


class TestTileDedupRewrite:
    def test_keeps_first_occurrence_and_rewrites(self, spark):
        """Doc 1 intact (all its tiles are first occurrences); doc 2 loses
        its duplicated leading tile but keeps its unique tail; doc 3 is
        fully duplicated and vanishes — the corpus never loses a tile's
        last copy."""
        df = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),
                (2, "a b c d e f g h x y"),
                (3, "i j"),
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in dedup.tile_dedup_rewrite(df, "doc_id", "text", 8).collect()
        }
        assert set(out) == {1, 2}
        assert out[1]["rewritten_text"] == "a b c d e f g h i j"
        assert out[1]["n_tiles_kept"] == 2
        assert out[2]["rewritten_text"] == "x y"
        assert out[2]["n_tiles_kept"] == 1

    def test_tile_order_preserved_on_interior_drop(self, spark):
        """A duplicated INTERIOR tile drops and the flanks rejoin in
        original order (the rebuild sorts by tile_idx, not by text).
        Dedup applies WITHIN a document too — doc 2's repeated 'z z'
        tile keeps only its first copy, like cross-doc duplicates."""
        df = spark.createDataFrame(
            [
                (1, "p q"),
                (2, "z z z z w w p q m m"),  # 2-word tiles: zz zz ww pq mm
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["rewritten_text"]
            for r in dedup.tile_dedup_rewrite(df, "doc_id", "text", 2).collect()
        }
        assert out[1] == "p q"
        # cross-doc dup 'p q' drops AND the within-doc second 'z z' drops
        assert out[2] == "z z w w m m"

    def test_every_distinct_tile_survives_exactly_once(self, spark):
        """Global invariant: the multiset of tiles AFTER rewrite equals the
        SET of distinct tiles before it."""
        docs = [
            (i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(12)))
            for i in range(40)
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        tw = 4
        before = set()
        for _, t in docs:
            w = t.split()
            for s in range(0, len(w), tw):
                before.add(" ".join(w[s : s + tw]))
        after = []
        for r in dedup.tile_dedup_rewrite(df, "doc_id", "text", tw).collect():
            w = r["rewritten_text"].split()
            # rebuilt docs are concatenations of kept tiles; tile borders
            # inside the rebuilt string are unknown, so recount via the
            # kept-tile count instead
            after.append((r["doc_id"], r["n_tiles_kept"], len(w)))
        assert sum(n for _, n, _ in after) == len(before)

    def test_rejects_bad_tile_words(self, spark):
        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="tile_words"):
            dedup.tile_dedup_rewrite(df, "doc_id", "text", 0)


# --- DSIR selection (hashed-bigram importance resampling) ----------------


def test_dsir_selects_target_like_docs(spark):
    """Planted-vocabulary geometry: target docs use vocab A, the raw pool
    mixes vocab-A docs and vocab-B docs. The vocab-A pool docs must rank
    strictly above every vocab-B doc (their bigram buckets carry large
    target counts; B-bigram buckets have t=0 and get the smoothed floor)."""
    from end_to_end_ml_spark.operators import text

    a_text = "alpha beta gamma delta alpha beta gamma delta"
    b_text = "omicron sigma tau upsilon omicron sigma tau upsilon"
    target = spark.createDataFrame(
        [(100 + i, a_text) for i in range(4)], ["doc_id", "text"]
    )
    pool = spark.createDataFrame(
        [(1, a_text), (2, b_text), (3, a_text), (4, b_text)],
        ["doc_id", "text"],
    )
    top2 = text.dsir_select(target, pool, "doc_id", "text", k=2).collect()
    assert sorted(r["doc_id"] for r in top2) == [1, 3]
    ranked = text.dsir_select(target, pool, "doc_id", "text", k=4).collect()
    scores = {r["doc_id"]: r["dsir_score_q"] for r in ranked}
    assert min(scores[1], scores[3]) > max(scores[2], scores[4])


def test_dsir_weights_bounded_and_integer(spark):
    """Weight table invariants: ≤ n_buckets rows, every weight a positive
    BIGINT, and every bucket id in [0, n_buckets)."""
    from end_to_end_ml_spark.operators import text

    target = spark.createDataFrame(
        [(1, "one two three four five")], ["doc_id", "text"]
    )
    raw = spark.createDataFrame(
        [(2, "six seven eight nine ten"), (3, "one two eleven twelve")],
        ["doc_id", "text"],
    )
    w = text.dsir_bucket_weights(target, raw, "text", n_buckets=16)
    rows = w.collect()
    assert 0 < len(rows) <= 16
    assert all(r["weight"] >= 1 for r in rows)
    assert all(0 <= r["bucket"] < 16 for r in rows)
    assert dict(w.dtypes)["weight"] == "bigint"


def test_dsir_zero_bigram_docs_excluded(spark):
    """<2 alphanumeric tokens ⇒ no bigrams ⇒ unscorable, excluded (the
    documented contract, mirrored in the mix5 oracle)."""
    from end_to_end_ml_spark.operators import text

    target = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
    pool = spark.createDataFrame(
        [(2, "alpha beta gamma"), (3, "word"), (4, "!!! ???")],
        ["doc_id", "text"],
    )
    out = text.dsir_select(target, pool, "doc_id", "text", k=10).collect()
    assert sorted(r["doc_id"] for r in out) == [2]


def test_dsir_score_is_sum_of_bucket_weights(spark):
    """Cross-check the composed score against a hand-computed replay:
    join the exploded buckets to the weight table in Python and compare
    exact integer sums."""
    from end_to_end_ml_spark.operators import text
    from pyspark.sql import functions as F2

    target = spark.createDataFrame(
        [(10, "alpha beta gamma alpha beta")], ["doc_id", "text"]
    )
    pool = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "gamma delta alpha beta")],
        ["doc_id", "text"],
    )
    w = {
        r["bucket"]: r["weight"]
        for r in text.dsir_bucket_weights(target, pool, "text").collect()
    }
    exploded = pool.select(
        "doc_id",
        F2.explode(text.hashed_bigram_buckets("text")).alias("bucket"),
    ).collect()
    expect = {}
    for r in exploded:
        expect[r["doc_id"]] = expect.get(r["doc_id"], 0) + w[r["bucket"]]
    got = {
        r["doc_id"]: r["dsir_score"]
        for r in text.dsir_scores(pool, "doc_id", "text",
                                  text.dsir_bucket_weights(target, pool, "text")).collect()
    }
    assert got == expect


def test_dsir_weights_from_flag_matches_two_frame_form(spark):
    """The single-scan conditional-agg weight builder must equal the
    two-frame form exactly on the same boolean split."""
    from end_to_end_ml_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, True, "alpha beta gamma delta"),
            (2, True, "beta gamma delta alpha"),
            (3, False, "alpha beta omicron sigma"),
            (4, False, "sigma tau upsilon phi"),
            (5, None, "alpha beta gamma"),  # NULL flag: counted by neither
        ],
        "doc_id long, is_tgt boolean, text string",
    )
    two = {
        (r["bucket"], r["weight"])
        for r in text.dsir_bucket_weights(
            docs.filter("is_tgt"), docs.filter("NOT is_tgt"), "text"
        ).collect()
    }
    one = {
        (r["bucket"], r["weight"])
        for r in text.dsir_bucket_weights_from_flag(
            docs, "is_tgt", "text"
        ).collect()
    }
    assert one == two

def test_dsir_merge_counts_equals_union_counts(spark):
    """Counter addition: SUM-merging per-slice count frames must equal
    counting the unioned corpus directly (the property the versioned
    epoch/streaming stores build on), in any merge order."""
    from end_to_end_ml_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, True, "alpha beta gamma delta"),
            (2, False, "beta gamma delta alpha"),
            (3, True, "alpha beta omicron sigma"),
            (4, False, "sigma tau upsilon phi"),
            (5, False, "alpha beta gamma"),
        ],
        "doc_id long, is_tgt boolean, text string",
    )
    whole = sorted(
        map(tuple, text.dsir_bucket_counts_from_flag(docs, "is_tgt", "text").collect())
    )
    a = text.dsir_bucket_counts_from_flag(docs.filter("doc_id <= 2"), "is_tgt", "text")
    b = text.dsir_bucket_counts_from_flag(docs.filter("doc_id = 3"), "is_tgt", "text")
    c = text.dsir_bucket_counts_from_flag(docs.filter("doc_id >= 4"), "is_tgt", "text")
    merged = sorted(map(tuple, text.dsir_merge_counts(a, b, c).collect()))
    assert merged == whole
    # order/None invariance
    merged2 = sorted(map(tuple, text.dsir_merge_counts(None, c, a, b).collect()))
    assert merged2 == whole
    # weights derived from merged counts == the single-frame flag weights
    w_merged = sorted(
        map(tuple, text.dsir_weights_from_counts(text.dsir_merge_counts(a, b, c)).collect())
    )
    w_flag = sorted(
        map(tuple, text.dsir_bucket_weights_from_flag(docs, "is_tgt", "text").collect())
    )
    assert w_merged == w_flag


def test_dsir_scores_unseen_bucket_floor(spark):
    """round-10 ADVICE: scoring docs OUTSIDE the counted pool. With the
    default (inner join) a bigram hashing to a bucket absent from the
    weight table vanishes from both the sum and the n_bigrams
    denominator; with floor_unseen=True it is counted at the
    add-one floor an unseen bucket would have received. Pinned against
    a Python replay on a planted split."""
    from end_to_end_ml_spark.operators import text
    from pyspark.sql import functions as F2

    target = spark.createDataFrame([(10, "alpha beta gamma")], ["doc_id", "text"])
    counted_pool = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    weights = text.dsir_bucket_weights(target, counted_pool, "text")
    w = {r["bucket"]: r["weight"] for r in weights.collect()}
    # a NEW doc mixing counted bigrams with never-counted vocabulary
    new_docs = spark.createDataFrame(
        [(7, "alpha beta zzyzx qwrty zzyzx")], ["doc_id", "text"]
    )
    buckets = new_docs.select(
        F2.explode(text.hashed_bigram_buckets("text")).alias("b")
    ).collect()
    seen = [r["b"] for r in buckets if r["b"] in w]
    unseen = [r["b"] for r in buckets if r["b"] not in w]
    assert seen and unseen  # the planted split is non-vacuous

    inner = text.dsir_scores(new_docs, "doc_id", "text", weights).collect()
    assert len(inner) == 1
    assert inner[0]["n_bigrams"] == len(seen)
    assert inner[0]["dsir_score"] == sum(w[b] for b in seen)

    floored = text.dsir_scores(
        new_docs, "doc_id", "text", weights, floor_unseen=True
    ).collect()
    assert len(floored) == 1
    assert floored[0]["n_bigrams"] == len(seen) + len(unseen)
    assert floored[0]["dsir_score"] == sum(w[b] for b in seen) + 65536 * len(unseen)


def test_dsir_floor_unseen_derives_scale_from_metadata(spark):
    """round-11 ADVICE #4: the unseen floor must not be hand-kept in
    sync with the scale_x the weights were built with. floor_unseen=True
    derives it from the scale_x metadata the weight builders stamp on
    the weight column — pinned with a NON-default scale (1024), where
    the old documented floor of 65536 would mis-floor by 64x. Also pins
    the loud path: a weights frame without the metadata raises instead
    of guessing."""
    import pytest as _pytest

    from end_to_end_ml_spark.operators import text
    from pyspark.sql import functions as F2

    target = spark.createDataFrame([(10, "alpha beta gamma")], ["doc_id", "text"])
    counted_pool = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    weights = text.dsir_bucket_weights(
        target, counted_pool, "text", scale_x=1024
    )
    w = {r["bucket"]: r["weight"] for r in weights.collect()}
    new_docs = spark.createDataFrame(
        [(7, "alpha beta zzyzx qwrty zzyzx")], ["doc_id", "text"]
    )
    buckets = new_docs.select(
        F2.explode(text.hashed_bigram_buckets("text")).alias("b")
    ).collect()
    seen = [r["b"] for r in buckets if r["b"] in w]
    unseen = [r["b"] for r in buckets if r["b"] not in w]
    assert seen and unseen

    got = text.dsir_scores(
        new_docs, "doc_id", "text", weights, floor_unseen=True
    ).collect()
    assert len(got) == 1
    assert got[0]["n_bigrams"] == len(seen) + len(unseen)
    assert got[0]["dsir_score"] == sum(w[b] for b in seen) + 1024 * len(unseen)

    # the counts → weights path stamps the metadata too (the streaming
    # store derivation goes through dsir_weights_from_counts)
    counts = text.dsir_bucket_counts_from_flag(
        target.withColumn("is_tgt", F2.lit(True)).unionByName(
            counted_pool.withColumn("is_tgt", F2.lit(False))
        ),
        "is_tgt",
        "text",
    )
    w2 = text.dsir_weights_from_counts(counts, scale_x=1024)
    assert (w2.schema["weight"].metadata or {}).get("scale_x") == 1024

    bare = weights.select("bucket", (F2.col("weight") + 0).alias("weight"))
    with _pytest.raises(ValueError, match="no scale_x metadata"):
        text.dsir_scores(new_docs, "doc_id", "text", bare, floor_unseen=True)
    # r12 ADVICE #2: a weights frame WITHOUT a 'weight' column must get the
    # same descriptive ValueError, not a bare KeyError from the schema read
    no_weight = weights.select("bucket")
    with _pytest.raises(ValueError, match="'weight' column"):
        text.dsir_scores(
            new_docs, "doc_id", "text", no_weight, floor_unseen=True
        )


def test_dsir_score_overflow_raises_not_wraps(spark):
    """round-10 ADVICE: under ANSI (Spark 4 default, PINNED in
    session.py for exactly this contract) a BIGINT score sum beyond
    2^63 RAISES ARITHMETIC_OVERFLOW, exactly as DuckDB's HUGEINT →
    BIGINT cast errors on the oracle side — never a silent WRAP into a
    plausible-but-wrong rank. (A decimal(38,0) sum was A/B'd and
    rejected as redundant — ANSI already provides the loudness, and an
    alternating warmed A/B showed the perf difference is noise.)
    Craft a weight table whose per-bucket weights force the overflow."""
    import pytest as _pytest

    from end_to_end_ml_spark.operators import text
    from pyspark.sql import functions as F2

    doc = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    buckets = doc.select(
        F2.explode(text.hashed_bigram_buckets("text")).alias("b")
    ).collect()
    n = len(buckets)
    assert n == 4
    weights = spark.createDataFrame(
        [(r["b"], (1 << 62)) for r in buckets], "bucket long, weight long"
    ).distinct()
    with _pytest.raises(Exception, match="OVERFLOW"):
        # 4·2^62 = 2^64 > BIGINT max — loud, never a wrapped rank
        text.dsir_scores(doc, "doc_id", "text", weights).collect()
    # in-range sums are unaffected (exact decimal == exact long path)
    ok_weights = spark.createDataFrame(
        [(r["b"], (1 << 60)) for r in buckets], "bucket long, weight long"
    ).distinct()
    out = text.dsir_scores(doc, "doc_id", "text", ok_weights).collect()
    assert out[0]["dsir_score"] == n * (1 << 60)
