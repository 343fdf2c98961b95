"""Unit tests for dedup / similarity / text-analysis operators on tiny
hand-built corpora with known answers."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cell_kn_mvp_etl_results_spark.operators import dedup as dd
from cell_kn_mvp_etl_results_spark.operators import similarity as sim
from cell_kn_mvp_etl_results_spark.operators import textanalysis as ta


def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "THE  quick brown fox jumps over the lazy dog"),  # exact dup of 1 (norm)
        (4, "completely different text about spark engines"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    groups = dd.exact_dedup_groups(docs(spark), "doc_id", "text").collect()
    by_n = sorted((g.n_docs, g.keeper) for g in groups)
    assert by_n == [(1, 2), (1, 4), (2, 1)]  # docs 1+3 collapse, keeper=1


def test_jaccard_pairs(spark):
    out = dd.jaccard_pairs(docs(spark), "doc_id", "text", n=3, threshold=0.5).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0


def test_minhash_lsh_finds_near_dups(spark):
    out = dd.minhash_lsh_pairs(docs(spark), "doc_id", "text").collect()
    pairs = {(r.id_a, r.id_b): r.est_jaccard for r in out}
    assert pairs[(1, 3)] == 1.0  # identical shingle sets -> identical sigs
    assert (1, 4) not in pairs  # unrelated docs shouldn't collide


def test_simhash_close_for_near_dups(spark):
    hashes = {r.id: r.simhash for r in dd.simhash(docs(spark), "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(hashes[1], hashes[3]) == 0
    assert ham(hashes[1], hashes[2]) < ham(hashes[1], hashes[4])


def test_connected_components(spark):
    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    # components: {0,1,2} via chain, {3,4}, singletons {5}, {6}
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in dd.connected_components(nodes, edges).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6}


def test_connected_components_long_chain(spark):
    # diameter > 1 requires multiple propagation rounds
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    comp = dd.connected_components(nodes, edges).collect()
    assert {r.component for r in comp} == {0}


def test_simhash_pairs(spark):
    hashes = dd.simhash(docs(spark), "doc_id", "text")
    out = dd.simhash_pairs(hashes, max_hamming=3).collect()
    assert any((r.id_a, r.id_b) == (1, 3) for r in out)


def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # antipode of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_ordering(spark):
    v = vectors(spark)
    out = sim.cosine_topk(v, v.filter(F.col("vec_id") == 0), k=3, quantize=4).collect()
    ranked = [(r.rank, r.cand_id) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [(1, 1), (2, 2), (3, 3)]
    best = [r for r in out if r.rank == 1][0]
    expected = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert abs(best.score - expected) < 1e-3


def test_cosine_arrow_matches_expr(spark):
    v = vectors(spark)
    q = v.filter(F.col("vec_id") <= 1)
    a = sorted(map(tuple, sim.cosine_topk(v, q, k=3, quantize=4).collect()))
    b = sorted(map(tuple, sim.cosine_topk_arrow(v, q, k=3, quantize=4).collect()))
    assert a == b  # bit-identical scores, same ranking


def test_lsh_bucket_topk_self_consistent(spark):
    v = vectors(spark)
    out = sim.lsh_bucket_topk(
        v, v.filter(F.col("vec_id") == 0), dim=3, k=3, n_planes=2
    ).collect()
    # ANN: recall may drop but anything returned must be correctly ranked.
    ranks = [r.rank for r in out]
    assert ranks == sorted(ranks)


def test_quality_features(spark):
    d = spark.createDataFrame([(1, "the cat and the hat")], "doc_id long, text string")
    r = ta.quality_features(d, "doc_id", "text").collect()[0]
    assert r.n_tokens == 5
    assert r.n_stop == 3  # the, and, the
    assert abs(r.stop_ratio - 0.6) < 1e-12
    assert abs(r.avg_token_len - 15 / 5) < 1e-12


def test_lang_id_markers_and_tiebreak(spark):
    d = spark.createDataFrame(
        [(1, "the a of"), (2, "spark query scan"), (3, "xyzzy")],
        "doc_id long, text string",
    )
    out = {r.id: (r.pred_lang, r.score) for r in ta.lang_id(d, "doc_id", "text").collect()}
    assert out[1] == ("en", 3)
    assert out[2] == ("zh", 3)
    assert out[3] == ("de", 0)  # all-zero tie -> alphabetically first


def test_simhash_pairs_banded_equals_allpairs(spark):
    """Pigeonhole recall guarantee: bit-band blocking finds EXACTLY the
    all-pairs result for every radius (bands = max_hamming + 1)."""
    hashes = dd.simhash(docs(spark), "doc_id", "text").cache()
    for h in (0, 2, 5):
        banded = {
            (r.id_a, r.id_b, r.hamming)
            for r in dd.simhash_pairs(hashes, max_hamming=h).collect()
        }
        allpairs = {
            (r.id_a, r.id_b, r.hamming)
            for r in dd.simhash_pairs(hashes, max_hamming=h, block=False).collect()
        }
        assert banded == allpairs, f"radius {h}: banded != all-pairs"
    hashes.unpersist()


def test_simhash_pairs_max_bucket_prunes(spark):
    """A degenerate band value shared by every row is dropped when its
    bucket exceeds max_bucket (skew guard trades recall only there)."""
    rows = [(i, 0) for i in range(10)]  # identical hash: every band collides
    hashes = spark.createDataFrame(rows, "id long, simhash long")
    full = dd.simhash_pairs(hashes, max_hamming=0).count()
    capped = dd.simhash_pairs(hashes, max_hamming=0, max_bucket=5).count()
    assert full == 45 and capped == 0


def test_jaccard_capped_equals_uncapped_under_cap(spark):
    """With every posting list under the cap, the capped (candidate +
    array_intersect verify) path returns exactly the uncapped result."""
    d = docs(spark)
    capped = {
        (r.id_a, r.id_b, r.inter, r.union_sz, r.jaccard)
        for r in dd.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.1,
                                  max_posting=1000).collect()
    }
    uncapped = {
        (r.id_a, r.id_b, r.inter, r.union_sz, r.jaccard)
        for r in dd.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.1,
                                  max_posting=None).collect()
    }
    assert capped == uncapped


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc embedded verbatim in a long one: containment ~1.0
    while Jaccard sits below a typical 0.5 dedup threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(8))
    d = spark.createDataFrame([(1, short), (2, long_)], "doc_id long, text string")
    rows = dd.containment_pairs(d, "doc_id", "text", n=3, threshold=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.c_ab == 1.0  # every shingle of the short doc is in the long one
    assert r.containment == 1.0
    jac = dd.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5).collect()
    assert jac == []  # symmetric Jaccard misses the same pair at 0.5


def test_containment_capped_equals_uncapped_under_cap(spark):
    d = docs(spark)
    key = lambda r: (r.id_a, r.id_b, r.inter, r.c_ab, r.c_ba)  # noqa: E731
    capped = {key(r) for r in dd.containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.1, max_posting=1000).collect()}
    uncapped = {key(r) for r in dd.containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.1, max_posting=None).collect()}
    assert capped == uncapped and len(capped) > 0


def test_containment_rejects_bad_threshold(spark):
    import pytest

    with pytest.raises(ValueError):
        dd.containment_pairs(docs(spark), "doc_id", "text", threshold=1.5)


def test_jaccard_max_posting_prunes_boilerplate(spark):
    """Docs sharing ONLY a boilerplate shingle lose their pair when the
    cap drops it; docs sharing cold shingles keep exact jaccard values."""
    boiler = "all rights reserved worldwide"
    rows = [(i, f"{boiler} unique{i} token{i} extra{i}") for i in range(8)]
    rows += [(100, f"{boiler} shared cold content here"),
             (101, f"{boiler} shared cold content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # n=2 shingles: the boilerplate bigrams appear in all 10 docs
    capped = dd.jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.01,
                              max_posting=5).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in pairs  # found via cold shingles
    assert all(a == 100 for a, b in pairs), f"boilerplate-only pairs kept: {pairs}"
    # and the surviving pair's jaccard is computed over the FULL sets
    full = {(r.id_a, r.id_b): r.jaccard
            for r in dd.jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.01,
                                      max_posting=None).collect()}
    got = next(r.jaccard for r in capped if (r.id_a, r.id_b) == (100, 101))
    assert got == full[(100, 101)]


def test_hot_keys_and_shared_key_counts(spark):
    """``hot_keys`` returns exactly the keys held by more than ``cap``
    postings (single and composite keys); ``shared_key_counts`` counts
    the keys each id pair shares, once per pair with id_a < id_b."""
    postings = [(1, "x"), (2, "x"), (3, "x"), (1, "y"), (2, "y"), (3, "z")]
    df = spark.createDataFrame(postings, "id long, k string")
    assert {r.k for r in dd.hot_keys(df, "k", 2).collect()} == {"x"}
    assert dd.hot_keys(df, "k", 3).count() == 0
    banded = df.withColumn("band", F.lit(0))
    assert dd.hot_keys(banded, ["band", "k"], 1).columns == ["band", "k"]
    assert {r.k for r in dd.hot_keys(banded, ["band", "k"], 1).collect()} == {"x", "y"}
    got = {(r.id_a, r.id_b): r.n for r in dd.shared_key_counts(df, "k").collect()}
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}


def test_dedup_candidate_decisions_have_one_home():
    """One statement per candidate-generation decision: the stop-key
    filter (``count > cap``) lives only in ``operators/dedup.hot_keys``,
    and the hot/cold exact shingle intersection only in
    ``dedup._shingle_overlaps`` (no per-caller ``_cold_n`` count)."""
    import inspect
    import pathlib
    import re

    stop_key = re.compile(
        r'\.filter\(F\.col\("[^"]+"\) > (max_posting|max_bucket|cap)\)'
    )
    pkg = pathlib.Path(dd.__file__).resolve().parents[1]
    sources = {
        p.relative_to(pkg).as_posix(): p.read_text() for p in pkg.rglob("*.py")
    }
    sites = {
        name: len(stop_key.findall(src))
        for name, src in sources.items()
        if stop_key.search(src)
    }
    assert sites == {"operators/dedup.py": 1}
    assert stop_key.search(inspect.getsource(dd.hot_keys))
    assert [name for name, src in sources.items() if "_cold_n" in src] == []


def _winnow_ref(text: str, k: int = 5, window: int = 4) -> list[int]:
    """Pure-Python reference for winnow_fingerprints (same md5-48 scheme)."""
    import hashlib
    import re

    t = re.sub(r"\s+", " ", text.lower()).strip()
    grams = [t[i : i + k] for i in range(max(len(t) - k + 1, 1))]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:12], 16) for g in grams
    ]
    mins = [
        min(hs[j : j + window]) for j in range(max(len(hs) - window + 1, 1))
    ]
    return sorted(set(mins))


def test_winnow_matches_python_reference(spark):
    texts = [
        (1, "The quick  Brown fox jumps over the lazy dog"),
        (2, "ab"),  # shorter than k: one whole-text shingle
        (3, "abcdef"),  # fewer hashes than window: one frame
        (4, "winnowing selects the minimum hash per sliding frame"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: r.fps
        for r in df.select(
            "doc_id", ta.winnow_fingerprints("text").alias("fps")
        ).collect()
    }
    for i, t in texts:
        assert got[i] == _winnow_ref(t), f"doc {i}"


def test_winnow_match_guarantee_and_dups(spark):
    """MOSS guarantee: a shared run of >= k + window - 1 chars yields at
    least one shared fingerprint; normalized exact dups share all."""
    common = "a distinctive shared passage"  # len 28 >= 5 + 4 - 1
    rows = [
        (1, f"left context {common} right context"),
        (2, f"totally other intro {common} and a different ending"),
        (3, "LEFT   context " + common + " right context"),  # norm-dup of 1
        (4, "no overlap with anything else at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        r.doc_id: set(r.fps)
        for r in df.select(
            "doc_id", ta.winnow_fingerprints("text").alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2], "shared passage must share a fingerprint"
    assert fps[1] == fps[3], "normalized dups share the full set"
    assert not fps[1] & fps[4] or len(fps[1] & fps[4]) < 2


def test_winnow_summary_matches_fingerprints(spark):
    df = docs(spark)
    s = {r.id: r for r in ta.winnow_summary(df, "doc_id", "text").collect()}
    f = {
        r.doc_id: r.fps
        for r in df.select(
            "doc_id", ta.winnow_fingerprints("text").alias("fps")
        ).collect()
    }
    for i, fp in f.items():
        assert s[i].n_fp == len(fp)
        assert s[i].min_fp == fp[0]
        assert s[i].max_fp == fp[-1]


def test_repetition_score(spark):
    rows = [
        (1, "a b a b a b"),          # bigrams: ab ba ab ba ab -> 5 grams, 2 distinct
        (2, "all words here differ"),  # 3 grams, all distinct
        (3, "one"),                  # < n tokens -> 0 grams, dup_frac 0.0
        (4, ""),                     # empty -> 0 grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in ta.repetition_score(df, "doc_id", "text").collect()}
    assert (got[1].n_grams, got[1].n_distinct) == (5, 2)
    assert got[1].dup_frac == (5 - 2) / 5
    assert got[2].dup_frac == 0.0 and got[2].n_grams == 3
    assert got[3].n_grams == 0 and got[3].dup_frac == 0.0
    assert got[4].n_grams == 0 and got[4].dup_frac == 0.0


def test_scrub_text_and_features(spark):
    rows = [
        (1, "mail me at a.user+tag@example.org or see https://ex.com/a?b=c#d now"),
        (2, "ids 12345678 and 999999999 but keep 123456"),
        (3, "visit http://ex.com/u?email=someone@ex.com today"),  # email inside URL
        (4, "nothing to scrub here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in ta.scrub_features(df, "doc_id", "text").collect()}
    assert got[1].clean_text == "mail me at <EMAIL> or see <URL> now"
    assert (got[1].n_urls, got[1].n_emails) == (1, 1)
    assert got[2].clean_text == "ids <NUM> and <NUM> but keep 123456"
    assert got[2].n_digit_runs == 2
    # the URL swallows the embedded email: one URL, zero residual emails
    assert got[3].clean_text == "visit <URL> today"
    assert (got[3].n_urls, got[3].n_emails) == (1, 0)
    assert got[4].clean_text == rows[3][1]
    assert (got[4].n_urls, got[4].n_emails, got[4].n_digit_runs) == (0, 0, 0)


def test_chunk_text_windows_and_overlap(spark):
    rows = [(1, "abcdefghij"), (2, "ab"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id, r.chunk_idx): r.chunk
        for r in ta.chunk_text(df, "doc_id", "text", chunk_chars=4).collect()
    }
    assert got[(1, 0)] == "abcd" and got[(1, 1)] == "efgh" and got[(1, 2)] == "ij"
    assert got[(2, 0)] == "ab"
    assert got[(3, 0)] == ""  # empty doc -> one empty chunk, not dropped

    ov = {
        (r.id, r.chunk_idx): r.chunk
        for r in ta.chunk_text(
            df, "doc_id", "text", chunk_chars=4, overlap=2
        ).collect()
    }
    assert ov[(1, 0)] == "abcd" and ov[(1, 1)] == "cdef"  # 2-char overlap
    # reconstruction: stripping the overlap from non-first chunks
    rebuilt = ov[(1, 0)] + "".join(
        ov[(1, i)][2:] for i in range(1, 1 + max(i for d, i in ov if d == 1))
    )
    assert rebuilt == "abcdefghij"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        ta.chunk_text(df, "doc_id", "text", chunk_chars=4, overlap=4)


def test_mixture_sample_rates_and_determinism(spark, sf_dir):
    from cell_kn_mvp_etl_results_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.3, "src2": 0.0}
    s1 = ta.mixture_sample(d, "doc_id", "source", rates)
    s2 = ta.mixture_sample(d.repartition(7), "doc_id", "source", rates)
    a = {r.doc_id for r in s1.collect()}
    assert a == {r.doc_id for r in s2.collect()}  # partition-independent

    by_src = {r.source: r for r in d.groupBy("source").count().collect()}
    kept = {
        r.source: r
        for r in s1.groupBy("source").count().collect()
    }
    assert kept["src0"]["count"] == by_src["src0"]["count"]  # rate 1.0 keeps all
    assert "src2" not in kept  # rate 0 drops all
    frac = kept["src1"]["count"] / by_src["src1"]["count"]
    assert 0.1 < frac < 0.5  # ~0.3 at small n
    # unknown strata obey default_rate
    none_kept = ta.mixture_sample(d, "doc_id", "source", {"src0": 1.0})
    assert {r.source for r in none_kept.select("source").distinct().collect()} == {"src0"}


def test_winnow_overlap_pairs_localized(spark):
    """A shared paragraph inside otherwise-different documents surfaces
    as a pair; unrelated docs don't; the posting cap prunes
    boilerplate fingerprints without losing the distinctive overlap."""
    common = "this exact distinctive paragraph appears in both documents verbatim"
    rows = [
        (1, f"opening words {common} and then one ending"),
        (2, f"completely different start {common} totally other close"),
        (3, "unrelated content with no shared passage at all present"),
        (4, "another document about something else entirely again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in ta.winnow_overlap_pairs(df, "doc_id", "text").collect()
    }
    # the true overlap dominates incidental shared 5-grams by an order
    # of magnitude; a threshold proportional to the overlap length
    # isolates it exactly
    assert pairs[(1, 2)] >= 20
    assert all(n <= 5 for p, n in pairs.items() if p != (1, 2))
    strict = {
        (r.id_a, r.id_b)
        for r in ta.winnow_overlap_pairs(
            df, "doc_id", "text", min_shared=10
        ).collect()
    }
    assert strict == {(1, 2)}


def test_null_text_behavior_pinned(spark):
    """Null text: repetition degrades to zero-grams, chunking emits one
    null chunk (documents are never dropped), scrub propagates SQL
    nulls, and winnow's null fingerprint can never equi-join into a
    spurious overlap pair."""
    df = spark.createDataFrame(
        [(1, None), (2, "some real text here")], "doc_id long, text string"
    )
    rep = {r.id: r for r in ta.repetition_score(df, "doc_id", "text").collect()}
    assert (rep[1].n_grams, rep[1].dup_frac) == (0, 0.0)
    ch = [r for r in ta.chunk_text(df, "doc_id", "text", chunk_chars=5).collect()
          if r.id == 1]
    assert len(ch) == 1 and ch[0].chunk is None
    sc = {r.id: r for r in ta.scrub_features(df, "doc_id", "text").collect()}
    assert sc[1].clean_text is None and sc[1].n_urls is None
    assert ta.winnow_overlap_pairs(df, "doc_id", "text").count() == 0


def test_chunk_text_matches_duckdb_windows(spark, sf_dir):
    """chunk_text agrees with an independent SQL formulation (DuckDB
    substr windows) on the real documents table -- the same
    parity-style check the gated queries get, without a gate slot."""
    import duckdb

    d = spark.createDataFrame(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
        .collect()
    )
    got = {
        (r.id, r.chunk_idx): r.chunk
        for r in ta.chunk_text(d, "doc_id", "text", chunk_chars=100, overlap=10).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    oracle = con.execute("""
        WITH n AS (
          SELECT doc_id, text,
                 greatest(CAST(ceil((length(text) - 10) / 90.0) AS BIGINT), 1) AS n_chunks
          FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 50)
        )
        SELECT doc_id, i - 1 AS chunk_idx, substr(text, (i - 1) * 90 + 1, 100) AS chunk
        FROM n, generate_series(1, 100) g(i)
        WHERE i <= n_chunks
    """).fetchall()
    expected = {(r[0], r[1]): r[2] for r in oracle}
    assert got == expected


def test_decontaminate_flags_benchmark_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # verbatim copy of a benchmark span (contaminated)
            (1, "prefix words the quick brown fox jumps elsewhere"),
            # no 4-gram overlap with the benchmark
            (2, "completely unrelated sentence about spark engines"),
            # case-folded overlap still counts
            (3, "THE QUICK BROWN FOX appears here too"),
        ],
        ["doc_id", "text"],
    )
    out = dd.decontaminate(train, bench, "doc_id", "text", n=4).collect()
    rows = {r.id: r for r in out}
    assert set(rows) == {1, 3}
    # doc 1: tokens = 8 -> 5 grams; hits = "the quick brown fox",
    # "quick brown fox jumps" -> 2
    assert rows[1].n_grams == 5 and rows[1].n_hits == 2
    assert rows[1].contamination_bp == 4000
    assert rows[3].n_hits == 1


def test_corpus_logfreq_score_known_values(spark):
    """floor(log2(count)) per token, integer-exact: 'x' appears 4x -> 2,
    'y' 2x -> 1, singletons -> 0."""
    from cell_kn_mvp_etl_results_spark.operators.textanalysis import (
        corpus_logfreq_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "x x y rare1"),
            (2, "x x y rare2"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in corpus_logfreq_score(docs, "doc_id", "text").collect()}
    # doc 1 tokens: x(4)->2, x->2, y(2)->1, rare1(1)->0 : sum 5, n 4
    assert out[1].n_tokens == 4
    assert out[1].mean_logfreq == 5 / 4
    assert out[1].min_logfreq == 0
    assert out[2].mean_logfreq == 5 / 4


def test_boilerplate_ngrams_planted_template(spark):
    """A planted footer phrase shared by most docs of one source
    surfaces as that source's top boilerplate trigram; unique content
    does not."""
    from cell_kn_mvp_etl_results_spark.operators.textanalysis import (
        boilerplate_ngrams,
    )

    rows = []
    for i in range(10):
        rows.append((i, "web", f"unique words number {i} here all rights reserved"))
    rows.append((10, "web", "totally different content"))
    for i in range(11, 14):
        rows.append((i, "book", f"chapter {i} begins now"))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = boilerplate_ngrams(
        docs, "doc_id", "text", "source", n=3, min_doc_frac=0.5, top_k=3
    ).collect()
    web = [r for r in out if r.grp == "web"]
    assert web and web[0].shingle == "all rights reserved" and web[0].n_docs == 10
    assert web[0].rnk == 1 and abs(web[0].doc_frac - 10 / 11) < 1e-9
    # nothing from the unique-content side crosses the 50% fraction
    assert all(r.shingle == "all rights reserved" or r.n_docs >= 2 for r in web)


def test_collocation_lift_known_values(spark):
    """Integer lift: a fused pair ('new york' always adjacent) outranks
    frequent-but-independent pairs."""
    from cell_kn_mvp_etl_results_spark.operators.textanalysis import collocation_lift

    rows = [(i, "new york " + "the cat sat on the mat " * 3) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = collocation_lift(docs, "doc_id", "text", min_count=5, top_k=5).collect()
    assert out[0].w1 == "new" and out[0].w2 == "york" and out[0].rnk == 1
    # exact integer check: c_xy=5, c_new=5, c_york=5, N=5*(2+18)=100
    # lift = (5 * 100 * 1000) div (5*5) = 20000
    assert out[0].lift_permille == 20000


def test_tfidf_keywords_planted_rare_terms(spark):
    """A term unique to one doc outranks corpus-wide terms; ubiquitous
    terms (idf 0) never appear."""
    from cell_kn_mvp_etl_results_spark.operators.textanalysis import tfidf_keywords

    rows = [(i, f"common words everywhere term{i} term{i}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_keywords(docs, "doc_id", "text", top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    for i in range(8):
        top = sorted(by_doc[i], key=lambda r: r.rnk)[0]
        assert top.tok == f"term{i}"
        # tf=2, idf=floor(log2(8 div 1))=3 -> score 6
        assert top.score == 6
    assert not any(r.tok in ("common", "words", "everywhere") for r in out)


def test_duplicate_spans_merges_windows(spark):
    # Docs 1 and 2 share the 6-token sentence "alpha beta gamma delta
    # epsilon zeta"; with k=4 its three duplicated windows overlap and
    # must merge into ONE maximal span covering tokens 1..6 in doc 1 and
    # 3..8 in doc 2. Doc 3 shares nothing of length >= 4 tokens.
    rows = [
        (1, "alpha beta gamma delta epsilon zeta ends here"),
        (2, "lead in alpha beta gamma delta epsilon zeta"),
        (3, "nothing shared with the others at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id, r.span_start, r.span_end): r.n_grams
        for r in dd.duplicate_spans(df, "doc_id", "text", k=4).collect()
    }
    assert out == {(1, 1, 6): 3, (2, 3, 8): 3}


def test_duplicate_spans_within_doc_and_gaps(spark):
    # A decoding-loop doc repeating its own 4-gram is flagged even with
    # no cross-document match; two far-apart repeats stay separate spans
    # (gap > k), each a single-window span.
    rows = [
        (1, "x1 x2 x3 x4 a b c d e f g h i j x1 x2 x3 x4"),
        (2, "unrelated filler text with no repeats inside"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.id, r.span_start, r.span_end, r.n_grams)
        for r in dd.duplicate_spans(df, "doc_id", "text", k=4).collect()
    )
    assert out == [(1, 1, 4, 1), (1, 15, 18, 1)]


def test_duplicate_spans_case_folds(spark):
    # Lowercase folding: "Alpha Beta" matches "alpha beta".
    rows = [
        (1, "Alpha Beta Gamma Delta trailing words here"),
        (2, "alpha beta gamma delta other stuff follows"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.id, r.span_start, r.span_end)
        for r in dd.duplicate_spans(df, "doc_id", "text", k=4).collect()
    )
    assert out == [(1, 1, 4), (2, 1, 4)]


def test_ngram_novelty(spark):
    # Doc 1 and 2 share "a b c" (their only duplicated 3-gram window);
    # doc 3 is fully novel. Doc 1 has 3 windows, 1 duplicated ->
    # novelty floor(2*1000/3) = 666.
    rows = [
        (1, "a b c d e"),
        (2, "z z2 a b c"),
        (3, "p q r s t"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: (r.n_grams, r.n_dup, r.novelty_permille)
           for r in dd.ngram_novelty(df, "doc_id", "text", n=3).collect()}
    assert out[1] == (3, 1, 666)
    assert out[2] == (3, 1, 666)
    assert out[3] == (3, 0, 1000)


def test_event_funnel_strict_ordering(spark):
    # A: view -> click -> purchase in order (passes every step).
    # B: purchase, click, view in REVERSE order (has a view, so step 1,
    #    but no click after the first view -> out at step 2).
    # C: view -> click, never purchases (out at step 3).
    import datetime as dt

    from cell_kn_mvp_etl_results_spark.plans.relational import q_event_funnel

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = []
    for i, (user, seq) in enumerate(
        [
            (1, ["view", "click", "purchase"]),
            (2, ["purchase", "click", "view"]),
            (3, ["view", "click"]),
        ]
    ):
        for j, etype in enumerate(seq):
            rows.append(
                (100 * i + j, t0 + dt.timedelta(minutes=j), user, etype, 1.0, "{}")
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    )
    import cell_kn_mvp_etl_results_spark.sources.readers as readers

    # drive the plan body directly on the in-memory frame
    from pyspark.sql import functions as F

    frontier = (
        df.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_prev"))
    )
    counts = [frontier.count()]
    prev = frontier
    for stage in ("click", "purchase"):
        prev = (
            df.filter(F.col("event_type") == stage)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col("t_prev"))
            .groupBy("user_id").agg(F.min("ts").alias("t_prev"))
        )
        counts.append(prev.count())
    assert counts == [3, 2, 1]


def test_decayed_rollup_shift_arithmetic(spark):
    # Day-age right shift: 400 cents two days before the anchor -> 100;
    # 55 cents on the anchor day -> 55. Exact integers, no floats.
    import datetime as dt

    from pyspark.sql import functions as F
    from cell_kn_mvp_etl_results_spark.functions.money import cents
    from cell_kn_mvp_etl_results_spark.plans.relational import _DECAY_ANCHOR_DAY

    rows = [
        (1, dt.datetime(2024, 1, 29, 8, 0, 0), 10, 4.00),
        (2, dt.datetime(2024, 1, 31, 9, 0, 0), 10, 0.55),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    day = F.expr("unix_micros(ts) div 86400000000")
    daily = df.groupBy("user_id", day.alias("d")).agg(
        F.sum(cents("value")).cast("long").alias("day_cents")
    )
    out = (
        daily.groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    f"shiftright(day_cents, CAST({_DECAY_ANCHOR_DAY} - d AS INT))"
                )
            ).cast("long").alias("decayed_cents")
        )
        .collect()
    )
    assert {(r.user_id, r.decayed_cents) for r in out} == {(10, 155)}


def test_cohort_retention_churn(spark):
    # Cohort A (week 0): users 1,2,3 -- user 3 churns after week 0,
    # users 1,2 return in week 1, only user 1 in week 2.
    # Cohort B (week 1): user 4, returns week 2.
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 4, 12, 0)  # within epoch-week W
    rows = []
    eid = 0
    def ev(user, week):
        nonlocal eid
        eid += 1
        return (eid, base + dt.timedelta(weeks=week), user, "view", 1.0, "{}")
    rows += [ev(1, 0), ev(2, 0), ev(3, 0), ev(1, 1), ev(2, 1), ev(1, 2)]
    rows += [ev(4, 1), ev(4, 2)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    )
    week = F.expr("unix_micros(ts) div (86400000000 * 7)")
    activity = df.select("user_id", week.alias("w")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("w").alias("cohort_w"))
    ret = (
        activity.join(cohort, "user_id")
        .groupBy("cohort_w", (F.col("w") - F.col("cohort_w")).alias("off"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    w0 = min(r.cohort_w for r in ret)
    got = {(r.cohort_w - w0, r.off): r.n for r in ret}
    assert got == {(0, 0): 3, (0, 1): 2, (0, 2): 1, (1, 0): 1, (1, 1): 1}


def test_fuzzy_key_pairs_exact_radius(spark):
    from cell_kn_mvp_etl_results_spark.operators.lookup import fuzzy_key_pairs

    rows = [
        (1, "kinase"),
        (2, "kinose"),   # substitution -> dist 1
        (3, "kinases"),  # insertion -> dist 1 from kinase, 2 from kinose
        (4, "kinase"),   # exact dup -> dist 0
        (5, "protein"),  # unrelated
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    out = {(r.id_a, r.id_b): r.dist
           for r in fuzzy_key_pairs(df, "id", "name").collect()}
    assert out == {(1, 2): 1, (1, 3): 1, (1, 4): 0, (2, 4): 1, (3, 4): 1}


def test_fuzzy_key_pairs_posting_cap_drops_stop_variants(spark):
    from cell_kn_mvp_etl_results_spark.operators.lookup import fuzzy_key_pairs

    # 30 two-char keys all sharing deletion variant "x": uncapped finds
    # the distance-<=1 pairs; a cap of 5 drops that variant, and since
    # "x?"-style keys share ONLY the hot variants, pairs vanish.
    rows = [(i, "x" + chr(ord("a") + i)) for i in range(26)]
    df = spark.createDataFrame(rows, "id long, name string")
    full = fuzzy_key_pairs(df, "id", "name", max_posting=None).count()
    capped = fuzzy_key_pairs(df, "id", "name", max_posting=5).count()
    assert full == 325 and capped == 0


def test_contaminated_spans_locates_benchmark_overlap(spark):
    # Train doc 1 contains the benchmark phrase "alpha beta gamma
    # delta" at tokens 3..6; doc 2 is clean. k=4 -> one span per
    # contaminated doc, exactly at the phrase.
    train = spark.createDataFrame(
        [
            (1, "intro words alpha beta gamma delta closing words here"),
            (2, "totally unrelated clean training content with no overlap"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    out = [
        (r.id, r.span_start, r.span_end, r.n_grams)
        for r in dd.contaminated_spans(train, bench, "doc_id", "text", k=4).collect()
    ]
    assert out == [(1, 3, 6, 1)]


def test_contaminated_and_duplicate_spans_share_merge_semantics(spark):
    # duplicate_spans of (train + bench) restricted to train hits of
    # bench-only grams equals contaminated_spans when the bench doc is
    # the only duplicate source.
    train = spark.createDataFrame(
        [(1, "x1 x2 p q r s x3 x4")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "p q r s")], "doc_id long, text string")
    via_contam = {
        (r.id, r.span_start, r.span_end)
        for r in dd.contaminated_spans(train, bench, "doc_id", "text", k=4).collect()
    }
    both = train.unionAll(bench)
    via_dup = {
        (r.id, r.span_start, r.span_end)
        for r in dd.duplicate_spans(both, "doc_id", "text", k=4).collect()
        if r.id == 1
    }
    assert via_contam == via_dup == {(1, 3, 6)}


def test_minhash_lsh_uncapped_matches_capped(spark):
    """max_bucket=None streams pairs through a bucket self-join instead
    of accumulating per-bucket id arrays (one hot bucket must cost
    time, never one task's aggregation-state memory); with no bucket
    over the cap the two shapes must emit identical pairs."""
    capped = dd.minhash_lsh_pairs(docs(spark), "doc_id", "text", max_bucket=1000)
    uncapped = dd.minhash_lsh_pairs(docs(spark), "doc_id", "text", max_bucket=None)
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, uncapped.collect())
    )


def test_ngram_lm_known_costs(spark):
    # Train: a=3, b=3, N=6 -> bl_n=2; backoff(a)=backoff(b)=2-1=1.
    # Pairs: (a,a):1 cost bl(3)-bl(1)=1; (a,b):2 cost 1-1=0; (b,b):1 cost 1.
    train = spark.createDataFrame(
        [(1, "a a b"), (2, "a b b")], "doc_id long, text string"
    )
    pair_m, uni_m = ta.ngram_lm_model(train, "doc_id", "text")
    assert {(r.w1, r.w2): r.pair_cost for r in pair_m.collect()} == {
        ("a", "a"): 1,
        ("a", "b"): 0,
        ("b", "b"): 1,
    }
    assert {r.w2: r.backoff_cost for r in uni_m.collect()} == {"a": 1, "b": 1}

    score = spark.createDataFrame(
        [
            (10, "a b c a"),  # (a,b)=0 seen; (b,c)=OOV 40; (c,a)=backoff 4+1
            (11, "b"),  # single token -> no bigrams -> excluded
            (12, "a a"),  # (a,a)=1 seen
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: r
        for r in ta.ngram_lm_score(
            score, "doc_id", "text", pair_m, uni_m
        ).collect()
    }
    assert set(out) == {10, 12}
    assert (out[10].n_bigrams, out[10].sum_cost) == (3, 45)
    assert (out[10].n_backoff, out[10].n_oov) == (1, 1)
    assert out[10].mean_cost == 15.0
    assert (out[12].n_bigrams, out[12].sum_cost, out[12].mean_cost) == (1, 1, 1.0)


def test_ngram_lm_self_scoring_never_backs_off(spark):
    d = docs(spark)
    pair_m, uni_m = ta.ngram_lm_model(d, "doc_id", "text")
    out = ta.ngram_lm_score(d, "doc_id", "text", pair_m, uni_m)
    agg = out.agg(
        F.sum("n_backoff").alias("bo"), F.sum("n_oov").alias("oov")
    ).collect()[0]
    assert (agg.bo, agg.oov) == (0, 0)


def test_minhash_cross_match_flags_benchmark_neardups(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different text about spark engines"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # = doc 1
            (101, "unrelated benchmark prompt with novel words entirely"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.id, r.bench_id): r.est_jaccard
        for r in dd.minhash_cross_match(
            corpus, bench, "doc_id", "text"
        ).collect()
    }
    assert out[(1, 100)] == 1.0  # identical text -> identical signatures
    assert (2, 100) not in out and (2, 101) not in out


def test_corpus_card_known_values(spark):
    rows = [
        # source a: lengths 2,3,4 -> median 3; docs 2+3 are exact dups
        (1, "x y", "en", "a"),
        (2, "p q r", "en", "a"),
        (3, "P  q R", "fr", "a"),  # normalizes to doc 2's content
        (4, "w w w w", "en", "a"),
        # source b: single doc
        (5, "only one document here", "de", "b"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r.source: r for r in ta.corpus_card(d, "doc_id", "text").collect()}
    a, b = out["a"], out["b"]
    assert (a.n_docs, a.n_tokens, a.median_tokens) == (4, 12, 3)
    assert a.mean_tokens == 3.0
    assert (a.n_unique_docs, a.n_dup_docs, a.n_langs) == (3, 1, 2)
    assert (b.n_docs, b.n_tokens, b.n_unique_docs, b.n_dup_docs, b.n_langs) == (
        1, 4, 1, 0, 1,
    )


def test_hard_negatives_exclude_same_label(spark):
    rows = [
        (0, [1.0, 0.0], 7),   # query
        (1, [1.0, 0.01], 7),  # same label, most similar -> must be excluded
        (2, [0.9, 0.1], 8),   # different label -> the hard negative
        (3, [0.0, 1.0], 8),   # different label, dissimilar
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    q = e.filter(F.col("vec_id") == 0)
    out = sim.cosine_topk_arrow(
        e, q, "vec_id", "embedding", k=2, quantize=4, exclude_label_col="label"
    ).collect()
    assert [(r.q_id, r.cand_id, r.rank) for r in out] == [(0, 2, 1), (0, 3, 2)]
    # without the label mask, vec 1 wins
    base = sim.cosine_topk_arrow(e, q, "vec_id", "embedding", k=1, quantize=4)
    assert [(r.q_id, r.cand_id) for r in base.collect()] == [(0, 1)]


def test_vocab_coverage_known_curve(spark):
    # stream: a x4, b x2, c x1, d x1 -> total 8
    d = spark.createDataFrame(
        [(1, "a a b c"), (2, "a a b d")], "doc_id long, text string"
    )
    out = {
        r.min_count: r
        for r in ta.vocab_coverage(d, "text", thresholds=(1, 2, 3, 4, 5)).collect()
    }
    assert (out[1].n_types, out[1].n_covered, out[1].coverage_permille) == (4, 8, 1000)
    assert (out[2].n_types, out[2].n_covered, out[2].coverage_permille) == (2, 6, 750)
    assert (out[3].n_types, out[3].n_covered) == (1, 4)
    assert (out[4].n_types, out[4].coverage_permille) == (1, 500)
    assert (out[5].n_types, out[5].n_covered, out[5].coverage_permille) == (0, 0, 0)


def test_label_rebalance_equalizes_classes(spark, sf_dir):
    from cell_kn_mvp_etl_results_spark.plans.registry import REGISTRY
    from cell_kn_mvp_etl_results_spark.sources.readers import read_table

    out = REGISTRY["q_label_rebalance"].builder(spark, sf_dir)
    per = {r.label: r.n for r in out.groupBy("label").agg(F.count("*").alias("n")).collect()}
    e = read_table(spark, sf_dir, "embeddings")
    m = min(
        r.n for r in e.groupBy("label").agg(F.count("*").alias("n")).collect()
    )
    labels = {r.label for r in e.select("label").distinct().collect()}
    assert per == {lab: m for lab in labels}


def test_doc_stitch_pairs_tail_meets_head(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "delta epsilon zeta eta theta"),  # continues doc 1
        (3, "unrelated content entirely here"),
        (4, "xy"),  # under n tokens -> excluded
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = [
        (r.id_a, r.id_b, r.gram)
        for r in dd.doc_stitch_pairs(d, "doc_id", "text", n=3).collect()
    ]
    assert out == [(1, 2, "delta epsilon zeta")]


def test_doc_stitch_posting_cap_drops_boilerplate(spark):
    # the same head gram on many docs is dropped once over the cap
    rows = [(i, "common header line body %d" % i) for i in range(5)]
    rows.append((100, "tail ends with common header line"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dd.doc_stitch_pairs(d, "doc_id", "text", n=3, max_posting=4).collect()
    assert capped == []
    uncapped = dd.doc_stitch_pairs(d, "doc_id", "text", n=3, max_posting=None).collect()
    assert {(r.id_a, r.id_b) for r in uncapped} == {(100, i) for i in range(5)}


def test_incremental_dedup_two_batch_cycle_composes_exactly(spark, sf_dir):
    """The compaction-cycle contract the lake posture claims (VERDICT
    r8 #6): two delta batches chained through the upserted index --
    delta2 probes upsert(idx0, delta1), so it MUST see delta1's docs --
    compose to exactly the from-scratch pair set restricted to
    (later-batch doc, earlier-batch doc). LSH collisions depend only on
    per-document band buckets, so the equality is exact, not
    approximate."""
    import pyspark.sql.functions as F

    from cell_kn_mvp_etl_results_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")
    base = d.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5))
    delta1 = d.filter(F.col("doc_id") % 10 == 0)
    delta2 = d.filter(F.col("doc_id") % 10 == 5)

    idx0 = dd.minhash_bucket_index(base, "doc_id", "text")
    p1 = dd.incremental_minhash_pairs(idx0, delta1, "doc_id", "text")
    idx1 = dd.upsert_minhash_index(idx0, delta1, "doc_id", "text")
    p2 = dd.incremental_minhash_pairs(idx1, delta2, "doc_id", "text")
    composed = {
        (r.delta_id, r.base_id, r.est_jaccard)
        for r in p1.unionByName(p2).collect()
    }

    # From-scratch: band the WHOLE corpus at once (uncapped, like the
    # probes), keep pairs where one side is a delta doc and the other
    # landed in an earlier-or-base batch, oriented (later, earlier).
    full = dd.minhash_lsh_pairs(
        d, "doc_id", "text", num_perm=32, bands=8, max_bucket=None
    ).filter(F.col("est_jaccard") >= 0.25)

    def batch(i):
        return 1 if i % 10 == 0 else (2 if i % 10 == 5 else 0)

    scratch = set()
    for r in full.collect():
        ba, bb = batch(r.id_a), batch(r.id_b)
        if ba == bb:
            continue  # within-batch pairs are out of the probes' scope
        later, earlier = (
            (r.id_a, r.id_b) if ba > bb else (r.id_b, r.id_a)
        )
        # delta1 probes only the base index; a (delta2, delta1) or
        # (delta2, base) pair probes idx1 -- all cross-batch pairs
        # where the later side is a delta are in scope.
        scratch.add((later, earlier, r.est_jaccard))

    assert composed == scratch
    assert len(composed) > 0
    # delta2 genuinely saw delta1's docs through the upsert:
    assert any(e % 10 == 0 for (_l, e, _j) in composed)


def test_incremental_pairs_delta_index_path_identical(spark, sf_dir):
    """The r12 probe-then-upsert sharing: passing the delta's own
    minhash_bucket_index as ``delta_index`` must yield exactly the
    inline-signature probe's pairs (same columns, same rows) -- the
    precondition the q_incremental_cycle restructure rests on."""
    import pyspark.sql.functions as F

    from cell_kn_mvp_etl_results_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 10 != 0)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    idx0 = dd.minhash_bucket_index(base, "doc_id", "text")
    inline = dd.incremental_minhash_pairs(idx0, delta, "doc_id", "text")
    via_index = dd.incremental_minhash_pairs(
        idx0,
        delta,
        "doc_id",
        "text",
        delta_index=dd.minhash_bucket_index(delta, "doc_id", "text"),
    )
    assert inline.columns == via_index.columns
    a = sorted(map(tuple, inline.collect()))
    b = sorted(map(tuple, via_index.collect()))
    assert a == b and len(a) > 0


def test_first_band_collision_dedups_exactly_once(spark):
    # r9: the map-side first-colliding-band filter replaces the
    # candidate distinct(). Identical hashes collide on EVERY band --
    # each pair must still be emitted exactly once (via band 0), and
    # the banded result must stay duplicate-free and equal to the
    # explicit-dedup branch (max_bucket forces the distinct path).
    rows = [(i, 0) for i in range(8)] + [(100 + i, (1 << 20) + i % 2) for i in range(4)]
    hashes = spark.createDataFrame(rows, "id long, simhash long")
    got = [(r.id_a, r.id_b, r.hamming) for r in dd.simhash_pairs(hashes, max_hamming=2).collect()]
    assert len(got) == len(set(got))  # no duplicate pair rows
    via_distinct = {
        (r.id_a, r.id_b, r.hamming)
        for r in dd.simhash_pairs(hashes, max_hamming=2, max_bucket=10**9).collect()
    }
    assert set(got) == via_distinct
