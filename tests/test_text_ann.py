"""Tests for dedup (minhash/simhash), quality/langid, and ANN search."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    """Synthetic corpus with planted near-duplicates."""
    rng = np.random.RandomState(3)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(60):
        words = [vocab[j] for j in rng.randint(0, 200, 40)]
        rows.append((i, " ".join(words)))
    # plant near-dups: docs 100.. are copies of 0..9 with one word changed
    for i in range(10):
        words = rows[i][1].split(" ")
        words[5] = "CHANGED"
        rows.append((100 + i, " ".join(words)))
    # exact dup of doc 20
    rows.append((200, rows[20][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    from shapely_spark.text.dedup import exact_dedup

    out = exact_dedup(docs).collect()
    sizes = {r.keeper_id: r.group_size for r in out}
    assert sizes[20] == 2  # doc 200 deduped onto 20
    assert sum(r.group_size for r in out) == docs.count()


def test_minhash_finds_planted_dups(docs):
    from shapely_spark.text.dedup import minhash_dedup_pairs

    pairs = {(r.doc_a, r.doc_b) for r in minhash_dedup_pairs(docs, threshold=0.5).collect()}
    for i in range(10):
        assert (i, 100 + i) in pairs, f"planted near-dup {i} missed"
    assert (20, 200) in pairs
    # jaccard verify keeps random pairs out
    for a, b in pairs:
        assert b == a + 100 or (a, b) == (20, 200)


def test_minhash_signatures_shape(docs):
    from shapely_spark.text.dedup import minhash_signatures

    sig = minhash_signatures(docs).first()
    assert len(sig.minhash) == 64


def test_simhash_identical_and_near(docs):
    from shapely_spark.text.dedup import simhash_64

    sims = {r.doc_id: r.simhash for r in simhash_64(docs).collect()}
    assert sims[20] == sims[200]  # identical text → identical simhash
    for i in range(10):
        ham = bin((sims[i] ^ sims[100 + i]) & ((1 << 64) - 1)).count("1")
        assert ham <= 12, f"near-dup {i} hamming {ham}"


def test_quality_and_langid(spark):
    from shapely_spark.text.quality import langid_heuristic, quality_columns

    d = spark.createDataFrame(
        [(0, "the cat sat on the mat and the dog ran to the park"),
         (1, "der hund und die katze das ist gut"),
         (2, "x")],
        "doc_id long, text string",
    )
    q = {r.doc_id: r for r in quality_columns(d).collect()}
    assert q[0].stopword_ratio > 0.3
    assert q[2].n_tokens == 1
    l = {r.doc_id: r.pred_lang for r in langid_heuristic(d).collect()}
    assert l[0] == "en"
    assert l[1] == "de"
    assert l[2] == "en"  # fallback


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(11)
    V = rng.normal(size=(300, 32))
    rows = [(i, [float(x) for x in V[i]]) for i in range(300)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_bruteforce_matches_numpy(spark, vectors):
    from shapely_spark.ann.search import cosine_topk_bruteforce

    got = {r.vec_id: r.target_id for r in cosine_topk_bruteforce(vectors, vectors, k=1).collect()}
    rows = vectors.orderBy("vec_id").collect()
    V = np.array([r.embedding for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    np.fill_diagonal(S, -2)
    want = S.argmax(axis=1)
    assert all(got[i] == int(want[i]) for i in range(300))


def test_ann_bruteforce_k3_rank_order(spark, vectors):
    from shapely_spark.ann.search import cosine_topk_bruteforce

    out = cosine_topk_bruteforce(vectors, vectors, k=3).collect()
    per = {}
    for r in out:
        per.setdefault(r.vec_id, []).append((r.rank, r.target_id))
    assert all(len(v) == 3 for v in per.values())
    assert all(sorted(v)[0][0] == 1 for v in per.values())


def test_ann_lsh_recall(spark, vectors):
    from shapely_spark.ann.search import cosine_topk_bruteforce, cosine_topk_lsh

    brute = {r.vec_id: r.target_id for r in cosine_topk_bruteforce(vectors, vectors, k=1).collect()}
    lsh = {r.vec_id: r.target_id for r in cosine_topk_lsh(vectors, vectors, k=1, n_tables=16, n_bits=4).collect()}
    hits = sum(1 for i, t in lsh.items() if brute.get(i) == t)
    recall = hits / len(brute)
    assert recall >= 0.8, f"LSH top-1 recall {recall:.2f}"


def test_ivf_exact_mode_matches_bruteforce(spark):
    """nprobe=n_lists probes every list → identical result to brute force."""
    from shapely_spark.ann.search import cosine_topk_bruteforce, cosine_topk_ivf

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = {(r.vec_id, r.target_id) for r in
          cosine_topk_bruteforce(e, e, k=1).collect()}
    ivf = {(r.vec_id, r.target_id) for r in
           cosine_topk_ivf(e, e, k=1, n_lists=8, nprobe=8).collect()}
    assert ivf == bf


def test_ivf_probe_recall(spark):
    """nprobe=2/8 keeps most true top-1 neighbors (clustered embeddings)."""
    from shapely_spark.ann.search import cosine_topk_bruteforce, cosine_topk_ivf

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = {r.vec_id: r.target_id for r in cosine_topk_bruteforce(e, e, k=1).collect()}
    ivf = {r.vec_id: r.target_id for r in
           cosine_topk_ivf(e, e, k=1, n_lists=8, nprobe=2).collect()}
    hits = sum(1 for q, t in bf.items() if ivf.get(q) == t)
    assert hits / len(bf) >= 0.5


def test_minhash_signature_family_independence(docs):
    """Regression for the r1 salt bug (a 2-arg transform lambda binds the
    array INDEX, collapsing all 64 positions to one hash function): two
    docs sharing ~37/38 shingles must agree on ~sim·64 signature positions,
    and the 64 positions of one signature must not all be equal."""
    from shapely_spark.text.dedup import minhash_signatures

    sigs = {r.doc_id: np.array(r.minhash) for r in minhash_signatures(docs).collect()}
    a, b = sigs[0], sigs[100]  # planted near-dup pair (1 of 40 words changed)
    agree = int((a == b).sum())
    assert agree >= 48, f"near-dup signature agreement {agree}/64 too low"
    assert len(set(a.tolist())) > 32, "signature positions are not independent"
    # exact dup → identical signature
    assert (sigs[20] == sigs[200]).all()


def test_minhash_short_doc_null_signature(spark):
    from shapely_spark.text.dedup import minhash_signatures

    d = spark.createDataFrame([(1, "only two"), (2, "a b c d")], "doc_id long, text string")
    out = {r.doc_id: r.minhash for r in minhash_signatures(d).collect()}
    assert out[1] is None
    assert out[2] is not None and len(out[2]) == 64


def test_lsh_bucket_cap_bounds_adversarial_corpus(spark):
    """A duplicate-heavy corpus (one boilerplate text repeated 300×) must
    not emit O(n²) candidate pairs when the bucket cap is on, and the
    audit helper must report the dropped buckets (no silent truncation)."""
    from shapely_spark.text.dedup import (
        minhash_band_buckets, minhash_lsh_candidates, minhash_signatures,
        oversized_buckets,
    )

    boiler = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, boiler) for i in range(300)] + [
        (1000 + i, " ".join(f"u{i}w{j}" for j in range(30))) for i in range(20)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(d)
    capped = minhash_lsh_candidates(sigs, max_bucket=50)
    assert capped.count() == 0  # boilerplate bucket dropped, uniques don't collide
    audit = oversized_buckets(minhash_band_buckets(sigs), max_bucket=50).collect()
    assert len(audit) >= 1 and all(r.n_docs == 300 for r in audit)
    uncapped = minhash_lsh_candidates(sigs, max_bucket=None)
    assert uncapped.count() == 300 * 299 // 2


def test_simhash_dedup_pairs_matches_exact(docs):
    """SimHash candidates + exact verify finds exactly the planted pairs."""
    from shapely_spark.text.dedup import simhash_dedup_pairs

    pairs = {(r.doc_a, r.doc_b) for r in simhash_dedup_pairs(docs, threshold=0.5).collect()}
    planted = {(i, 100 + i) for i in range(10)} | {(20, 200)}
    assert pairs == planted


def test_ann_recall_contract_row(spark, vectors):
    from shapely_spark.ann.search import (
        cosine_topk_bruteforce, cosine_topk_lsh, topk_recall_contract,
    )

    lsh = cosine_topk_lsh(vectors, vectors, k=1, n_tables=16, n_bits=4)
    brute = cosine_topk_bruteforce(vectors, vectors, k=1)
    row = topk_recall_contract(lsh, brute, floor=0.8).first()
    assert row.recall_ok and row.n_queries == vectors.count() and row.floor == 0.8


def test_ivf_distributed_exact_mode_matches_bruteforce(spark):
    """Distributed inverted-list IVF (no driver collect of targets) with
    nprobe=n_lists must equal brute force exactly."""
    from shapely_spark.ann.search import (
        cosine_topk_bruteforce, cosine_topk_ivf_distributed,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = {(r.vec_id, r.target_id) for r in cosine_topk_bruteforce(e, e, k=1).collect()}
    dd = {(r.vec_id, r.target_id) for r in
          cosine_topk_ivf_distributed(e, e, k=1, n_lists=8, nprobe=8).collect()}
    assert dd == bf


def test_ivf_distributed_probe_recall(spark):
    from shapely_spark.ann.search import (
        cosine_topk_bruteforce, cosine_topk_ivf_distributed,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = {r.vec_id: r.target_id for r in cosine_topk_bruteforce(e, e, k=1).collect()}
    d2 = {r.vec_id: r.target_id for r in
          cosine_topk_ivf_distributed(e, e, k=1, n_lists=8, nprobe=2).collect()}
    hits = sum(1 for q, t in bf.items() if d2.get(q) == t)
    assert hits / len(bf) >= 0.4


def test_bucket_pairs_no_self_pairs_on_duplicate_rows(spark):
    """A doc landing in the same bucket twice (band-digest collision across
    bands) must not emit a (x, x) pair or duplicate (a, b) rows."""
    from shapely_spark.text.dedup import _bucket_pairs

    rows = [(1, 10), (1, 10), (2, 10), (2, 20), (1, 20)]
    e = spark.createDataFrame(rows, "doc_id long, bucket long")
    got = sorted((r.doc_a, r.doc_b) for r in _bucket_pairs(e, ["doc_id"], None).collect())
    assert got == [(1, 2)]


def test_bucket_pairs_pair_filter_prunes_inside_emission(spark):
    """pair_filter sees both payloads and drops pairs as they are produced."""
    from pyspark.sql import functions as F

    from shapely_spark.text.dedup import _bucket_pairs

    rows = [(1, 5, 100), (2, 6, 100), (3, 50, 100)]
    e = spark.createDataFrame(rows, "doc_id long, v long, bucket long")
    got = sorted(
        (r.doc_a, r.doc_b)
        for r in _bucket_pairs(
            e, ["doc_id", "v"], None,
            pair_filter=lambda a, b: F.abs(a["v"] - b["v"]) <= 10,
        ).collect()
    )
    assert got == [(1, 2)]


def test_neardup_bucketed_matches_bruteforce_gate(spark):
    """The bucketed (LSH-candidates → exact-verify) near-dup plan must
    reproduce the exact all-pairs result on the gate corpus — this is the
    contract that lets the driver's exact DuckDB oracle stay valid for the
    scale plan (queries.py: embedding_neardup_pairs)."""
    from shapely_spark.ann.search import (
        cosine_neardup_pairs, cosine_neardup_pairs_bucketed,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    brute = {(r.id_a, r.id_b) for r in cosine_neardup_pairs(e, threshold=0.5).collect()}
    bucketed = {(r.id_a, r.id_b)
                for r in cosine_neardup_pairs_bucketed(e, threshold=0.5).collect()}
    assert bucketed == brute and len(brute) >= 1


def test_neardup_blocked_matches_bruteforce_multichunk(spark):
    """cosine_neardup_pairs_blocked (distributed symmetric block matmul —
    no driver collect, no full-matrix broadcast) is EXACT: equal to the
    broadcast brute force with chunk_rows small enough to force many
    diagonal and off-diagonal block tasks."""
    from shapely_spark.ann.search import (
        cosine_neardup_pairs, cosine_neardup_pairs_blocked,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    brute = {(r.id_a, r.id_b) for r in cosine_neardup_pairs(e, threshold=0.45).collect()}
    blocked = {(r.id_a, r.id_b)
               for r in cosine_neardup_pairs_blocked(
                   e, threshold=0.45, chunk_rows=64).collect()}
    assert blocked == brute and len(brute) >= 1


def test_neardup_bucketed_noprune_dispatch(spark):
    """With parameters whose random-pair collision probability exceeds the
    dispatch cutoff (defaults: 48 tables × 4 bits → 95% of ALL pairs are
    candidates), the bucketed plan routes to the blocked exact verify —
    generating a ~full candidate list would cost more than verifying
    everything. Result must still be exact."""
    import numpy as np

    from shapely_spark.ann.search import (
        cosine_neardup_pairs, cosine_neardup_pairs_bucketed,
    )

    rng = np.random.RandomState(11)
    V = rng.normal(size=(300, 16))
    V[250:] = V[:50] + 0.3 * rng.normal(size=(50, 16))  # moderate-cos pairs
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    brute = {(r.id_a, r.id_b) for r in cosine_neardup_pairs(df, threshold=0.5).collect()}
    got = {(r.id_a, r.id_b)
           for r in cosine_neardup_pairs_bucketed(df, threshold=0.5).collect()}
    assert got == brute and len(brute) >= 10


def test_neardup_bucketed_selective_on_clustered_vectors(spark):
    """On clustered data (the realistic regime) the sketch is SELECTIVE:
    planted duplicate pairs are all found while the candidate set stays
    far below C(n,2) — the property that makes the plan scale-safe."""
    import numpy as np

    from shapely_spark.ann.search import (
        cosine_lsh_candidate_pairs, cosine_neardup_pairs_bucketed,
    )

    rng = np.random.RandomState(3)
    base = rng.normal(size=(200, 32))
    # plant 20 near-duplicate partners: ids 200..219 ≈ ids 0..19 + tiny noise
    dups = base[:20] + 0.02 * rng.normal(size=(20, 32))
    V = np.vstack([base, dups])
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {(r.id_a, r.id_b)
           for r in cosine_neardup_pairs_bucketed(
               df, threshold=0.9, n_tables=24, n_bits=8).collect()}
    want = {(i, 200 + i) for i in range(20)}
    assert want <= got
    # selectivity: high-bit sketch candidates ≪ all pairs (C(220,2) = 24090)
    n_cand = cosine_lsh_candidate_pairs(df, n_tables=24, n_bits=8).count()
    assert n_cand < 24090 * 0.25, n_cand


def test_lsh_distributed_matches_broadcast_lsh(spark, vectors):
    """The distributed LSH refine (posting-list chunks, cogroup, salted
    groups, no driver collect) must produce the same top-1 as the
    broadcast-refine variant wherever the query has candidates, with and
    without query salting."""
    from shapely_spark.ann.search import cosine_topk_lsh, cosine_topk_lsh_distributed

    bl = {r.vec_id: r.target_id
          for r in cosine_topk_lsh(vectors, vectors, k=1, n_tables=16, n_bits=4).collect()}
    for salt in (1, 3):
        dl = {r.vec_id: r.target_id
              for r in cosine_topk_lsh_distributed(
                  vectors, vectors, k=1, n_tables=16, n_bits=4, query_salt=salt).collect()}
        # broadcast variant brute-falls-back on empty-candidate queries;
        # distributed does not — compare on the distributed key set
        assert dl and all(bl[q] == t for q, t in dl.items()), f"salt={salt}"


def test_bucket_pairs_hard_ceiling_with_none_cap(spark):
    """max_bucket=None must still bound single-task bucket state: a bucket
    above HARD_MAX_BUCKET is dropped (skew bug, not a dedup group)."""
    from pyspark.sql import functions as F

    from shapely_spark.text import dedup as D

    orig = D.HARD_MAX_BUCKET
    D.HARD_MAX_BUCKET = 8
    try:
        big = spark.range(20).select(F.col("id").alias("doc_id"), F.lit(1).alias("bucket"))
        small = spark.range(3).select((F.col("id") + 100).alias("doc_id"), F.lit(2).alias("bucket"))
        got = sorted((r.doc_a, r.doc_b)
                     for r in D._bucket_pairs(big.union(small), ["doc_id"], None).collect())
        assert got == [(100, 101), (100, 102), (101, 102)]
    finally:
        D.HARD_MAX_BUCKET = orig


def test_redact_pii_and_canonical_url(spark):
    """r4 scrub/normalize stage: typed placeholder redaction with audit
    counts, and canonical URL keys (case, default ports, fragments,
    param order, trailing slash)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from shapely_spark.text.quality import canonical_url_col, redact_pii

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            "mail bob.smith+x@sub.example.co and 555-123-4567 from 10.1.2.3",
            "no pii here at all",
            "two mails a@b.io c.d@e-f.org one phone +123-456-7890",
        ]}), "doc_id long, text string")
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert (out[0].n_email, out[0].n_phone, out[0].n_ip) == (1, 1, 1)
    assert out[0].redacted == "mail <EMAIL> and <PHONE> from <IP>"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ip) == (0, 0, 0)
    assert out[1].redacted == "no pii here at all"
    assert (out[2].n_email, out[2].n_phone) == (2, 1)
    assert out[2].redacted == "two mails <EMAIL> <EMAIL> one phone <PHONE>"

    urls = spark.createDataFrame(pd.DataFrame({"u": [
        "HTTP://Example.COM:80/Path/?b=2&a=1#frag",
        "http://example.com/Path?a=1&b=2",
        "https://Example.com:443/",
        "https://example.com",
        "http://example.com:8080/x",      # non-default port kept
        "https://example.com:80/x",       # mismatched default port kept
    ]}), "u string")
    got = [r.c for r in urls.select(canonical_url_col(F.col("u")).alias("c")).collect()]
    assert got[0] == got[1] == "http://example.com/Path?a=1&b=2"
    assert got[2] == got[3] == "https://example.com/"
    assert got[4] == "http://example.com:8080/x"
    assert got[5] == "https://example.com:80/x"


def test_clean_lines_and_gopher_flags(spark):
    """r4 quality stage: C4-style line filter (punctuation / min-words /
    boilerplate markers) and Gopher-style document gates."""
    import pandas as pd
    from shapely_spark.text.quality import clean_lines, gopher_quality_flags

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": [
            "this line has enough words to keep.\nshort.\n"
            "accept our Cookie policy please now.\nno terminal punctuation here",
            "one two three four five six seven!\nJavaScript required to view this page.",
        ]}), "doc_id long, text string")
    out = {r.doc_id: r for r in clean_lines(df).collect()}
    assert (out[0].n_lines, out[0].n_kept) == (4, 1)
    assert out[0].cleaned == "this line has enough words to keep."
    assert (out[1].n_lines, out[1].n_kept) == (2, 1)

    good = " ".join(["the quick brown fox jumps over lazy dogs and cats"] * 6)
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [good,
                 "tiny doc only four words",           # word count gate
                 " ".join(["####"] * 60)],              # symbol + stopword gates
    }), "doc_id long, text string")
    g = {r.doc_id: r for r in gopher_quality_flags(docs).collect()}
    assert g[0].gopher_pass is True
    assert g[1].gopher_pass is False and g[1].ok_word_count is False
    assert g[2].gopher_pass is False and g[2].ok_stopwords is False


def test_repetition_flags_hand_values(spark):
    """Hand-computed Gopher repetition metrics on a 3-doc corpus."""
    import pandas as pd
    from shapely_spark.text.quality import repetition_flags

    clean = "alpha beta\ngamma delta\nepsilon zeta"
    # 4 lines, 2 distinct ("dup dup" repeats); line chars 4*7=28, distinct 14
    dupl = "dup dup\ndup dup\nother x\nother x"
    # one line, dominant 2-gram "ab ab": words = ab x6 -> gram "ab ab" x5
    gram = "ab ab ab ab ab ab"
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2], "text": [clean, dupl, gram]}),
        "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_flags(df).collect()}

    assert out[0].dup_line_frac == 0.0
    assert out[0].dup_line_char_frac == 0.0
    # 6 words -> 5 distinct grams, each once; tie breaks to the lex-greatest
    # gram "gamma delta" (11 chars over the 35-char doc — short docs flag)
    assert abs(out[0].top2gram_char_frac - 11 / 35) < 1e-12

    assert out[1].dup_line_frac == 0.5
    assert out[1].dup_line_char_frac == 0.5
    assert out[1].rep_pass is False

    # "ab ab" occurs 5x (overlapping), len 5, text len 17
    assert abs(out[2].top2gram_char_frac - 5 * 5 / 17) < 1e-12
    assert out[2].rep_pass is False


def test_repetition_flags_degenerate_docs(spark):
    """Empty and one-word docs produce zeros, not nulls or errors."""
    import pandas as pd
    from shapely_spark.text.quality import repetition_flags

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2], "text": ["", "word", "  \n  \n"]}),
        "doc_id long, text string")
    for r in repetition_flags(df).collect():
        assert r.dup_line_frac == 0.0
        assert r.dup_line_char_frac == 0.0
        assert r.top2gram_char_frac == 0.0
        assert r.rep_pass is True


def test_stratified_sample_matches_naive_window(spark):
    """The skew-safe two-phase sampler selects EXACTLY the rows a naive
    single window would (global per-stratum top-quota by md5 key), for
    every salt count — the salting is a partitioning detail, not a
    semantic one."""
    import pandas as pd
    from pyspark.sql import Window
    from shapely_spark.text.quality import stratified_sample

    n = 400
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(n),
        "lang": ["en" if i % 10 < 7 else ("de" if i % 2 == 0 else "fr")
                 for i in range(n)],
    }), "doc_id long, lang string")

    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    naive = (df.withColumn("rk", F.row_number().over(w))
             .where(F.col("rk") <= 25))
    expect = {(r.lang, r.doc_id, r.rk) for r in naive.collect()}

    for salts in (1, 4, 32):
        got = stratified_sample(df, strata_col="lang", quota=25,
                                order_col="doc_id", salts=salts)
        rows = {(r.lang, r.doc_id, r.sample_rank) for r in got.collect()}
        assert rows == expect, f"salts={salts}"


def test_stratified_sample_small_stratum_kept_whole(spark):
    """A stratum under quota survives in full with contiguous ranks."""
    import pandas as pd
    from shapely_spark.text.quality import stratified_sample

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(30),
        "lang": ["en"] * 27 + ["tiny"] * 3,
    }), "doc_id long, lang string")
    out = stratified_sample(df, strata_col="lang", quota=10, order_col="doc_id")
    tiny = [r for r in out.collect() if r.lang == "tiny"]
    assert sorted(r.sample_rank for r in tiny) == [1, 2, 3]
    assert len([r for r in out.collect() if r.lang == "en"]) == 10


# ---------------------------------------------------------------------------
# decontamination + sequence packing (r4)
# ---------------------------------------------------------------------------


def test_decontaminate_flags_planted_overlap(docs):
    """Docs 100..109 are one-word edits of 0..9; using 0..9 as the eval
    set, every edited copy must be flagged (long shared runs survive a
    single substitution) and unrelated docs must be absent."""
    from shapely_spark.text.decontam import decontaminate

    ev = docs.where(F.col("doc_id") < 10)
    train = docs.where(F.col("doc_id") >= 100)
    out = {r.doc_id: r.n_hits for r in decontaminate(train, ev, n=5).collect()}
    # word 5 changed -> grams fully inside tokens 0..4 or 6..39 still match
    assert set(out) == {100 + i for i in range(10)}
    # 40 tokens, n=5 -> 36 grams; the edit kills the 5 grams covering
    # position 5; duplicates inside a doc can only reduce the count
    assert all(1 <= v <= 31 for v in out.values())


def test_decontaminate_distinct_hits_and_short_docs(spark):
    from shapely_spark.text.decontam import decontaminate, eval_ngrams

    ev = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    train = spark.createDataFrame(
        [
            (1, "a b c d a b c d"),  # the eval 3-grams, repeated
            (2, "x y z"),            # no overlap
            (3, "a b"),              # shorter than n -> no grams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_hits for r in decontaminate(train, ev, n=3).collect()}
    # doc 1 matches 'a b c', 'b c d' (distinct!) plus wraparound grams
    # 'c d a', 'd a b' which are NOT eval grams -> exactly 2
    assert out == {1: 2}
    # max_tokens truncation: only the first 3 tokens of the eval doc
    evg = eval_ngrams(ev, n=3, max_tokens=3)
    assert sorted(r.ngram for r in evg.collect()) == ["a b c"]


def test_pack_sequences_matches_reference_cumsum(spark):
    """The two-level prefix sum must equal the plain cumulative sum for
    every bucket width, including sparse non-contiguous ids."""
    import numpy as np

    from shapely_spark.text.packing import pack_sequences

    rng = np.random.RandomState(7)
    ids = sorted(rng.choice(10_000, size=200, replace=False).tolist())
    rows = [(int(i), " ".join("t" for _ in range(int(rng.randint(1, 90)))))
            for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_tok = {i: len(t.split(" ")) for i, t in rows}
    # reference: exclusive cumsum in id order
    ref_start, acc = {}, 0
    for i in ids:
        ref_start[i] = acc
        acc += n_tok[i]
    for bucket in (1, 7, 64, 100_000):
        got = {r.doc_id: (r.start_tok, r.first_chunk, r.n_chunks)
               for r in pack_sequences(df, seq_len=128, bucket=bucket).collect()}
        assert set(got) == set(ids)
        for i in ids:
            s = ref_start[i]
            e = s + n_tok[i]
            assert got[i] == (s, s // 128, (e - 1) // 128 - s // 128 + 1), (
                bucket, i)


def test_chunk_occupancy_conserves_doc_chunk_incidence(spark):
    from shapely_spark.text.packing import chunk_occupancy, pack_sequences

    rows = [(i, " ".join("w" for _ in range(37))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = pack_sequences(df, seq_len=64, bucket=8)
    occ = chunk_occupancy(packed, seq_len=64).collect()
    n_incidence = sum(r.n_docs for r in occ)
    assert n_incidence == sum(r.n_chunks for r in packed.collect())
    # stream has 50*37 tokens -> ceil(1850/64) = 29 chunks, contiguous ids
    assert sorted(r.chunk_id for r in occ) == list(range(29))
    # a 37-token doc in 64-token chunks is whole iff it does not straddle
    assert all(0 <= r.n_whole_docs <= r.n_docs for r in occ)


def test_remove_duplicate_spans_excises_planted_boilerplate(spark):
    from shapely_spark.text.dedup import remove_duplicate_spans

    boiler = " ".join(f"B{i}" for i in range(8))  # exactly one window
    rows = [
        (0, f"{boiler} alpha beta gamma delta epsilon zeta eta theta"),
        (1, f"iota kappa lam mu nu xi omicron pi {boiler}"),
        (2, "solo words only here nothing repeated across documents at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           remove_duplicate_spans(df, window=8, stride=4, min_docs=2).collect()}
    # boilerplate window occurs in 2 docs -> excised from both
    assert "B0" not in out[0].clean_text and "B0" not in out[1].clean_text
    assert out[0].clean_text == "alpha beta gamma delta epsilon zeta eta theta"
    # doc 1: boiler starts at token 8 (stride-aligned), fully covered
    assert out[1].clean_text == "iota kappa lam mu nu xi omicron pi"
    assert out[0].n_removed == 8 and out[1].n_removed == 8
    # untouched doc round-trips byte-identically with zero removals
    assert out[2].clean_text == rows[2][1] and out[2].n_removed == 0


def test_remove_duplicate_spans_overlapping_windows_merge(spark):
    from shapely_spark.text.dedup import remove_duplicate_spans

    # 12 shared tokens -> windows at starts 0 and 4 both duplicated;
    # covered set is their union (12 distinct positions, not 16)
    shared = " ".join(f"S{i}" for i in range(12))
    rows = [(0, f"{shared} tail0 tail1 tail2 tail3"),
            (1, f"{shared} other0 other1 other2 other3")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           remove_duplicate_spans(df, window=8, stride=4, min_docs=2).collect()}
    assert out[0].n_removed == 12
    assert out[0].clean_text == "tail0 tail1 tail2 tail3"
    assert out[1].clean_text == "other0 other1 other2 other3"


def test_remove_duplicate_spans_short_docs_untouched(spark):
    from shapely_spark.text.dedup import remove_duplicate_spans

    rows = [(0, "tiny doc"), (1, "tiny doc")]  # < window tokens, even if equal
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_duplicate_spans(df, window=8, stride=4, min_docs=2).collect()
    assert all(r.n_removed == 0 for r in out)
    assert {r.clean_text for r in out} == {"tiny doc"}


# ---------------------------------------------------------------------------
# product quantization (ann/search.py PQ tier)
# ---------------------------------------------------------------------------

def test_pq_roundtrip_shapes_and_determinism():
    from shapely_spark.ann.search import pq_encode, pq_reconstruct, pq_train

    rng = np.random.RandomState(4)
    T = rng.normal(size=(200, 32))
    T /= np.linalg.norm(T, axis=1, keepdims=True)
    books = pq_train(T, m=8, n_codes=16)
    codes = pq_encode(T, books)
    assert books.shape == (8, 16, 4) and codes.shape == (200, 8)
    assert codes.dtype == np.uint8
    assert np.array_equal(codes, pq_encode(T, pq_train(T, m=8, n_codes=16)))
    # finer quantization strictly reduces mean distortion
    coarse = np.linalg.norm(T - pq_reconstruct(codes, books), axis=1).mean()
    b2 = pq_train(T, m=16, n_codes=32)
    fine = np.linalg.norm(T - pq_reconstruct(pq_encode(T, b2), b2), axis=1).mean()
    assert fine < coarse
    with pytest.raises(ValueError):
        pq_train(T, m=5)


def test_pq_full_refine_matches_bruteforce(spark, vectors):
    """refine >= n_targets exact-rescoring every candidate must reproduce
    brute force exactly (the ADC stage only orders candidates)."""
    from shapely_spark.ann.search import cosine_topk_bruteforce, cosine_topk_pq

    bf = {(r.vec_id, r.target_id, r.rank) for r in
          cosine_topk_bruteforce(vectors, vectors, k=2).collect()}
    pq = {(r.vec_id, r.target_id, r.rank) for r in
          cosine_topk_pq(vectors, vectors, k=2, m=8, n_codes=16,
                         refine=1000).collect()}
    assert pq == bf


def test_pq_clustered_recall_and_self_exclusion(spark):
    from shapely_spark.ann.search import cosine_topk_bruteforce, cosine_topk_pq

    rng = np.random.RandomState(9)
    centers = rng.normal(size=(12, 32)) * 4.0
    V = np.concatenate([c + rng.normal(size=(25, 32)) * 0.3 for c in centers])
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    brute = {r.vec_id: r.target_id for r in
             cosine_topk_bruteforce(df, df, k=1).collect()}
    pq = {r.vec_id: r.target_id for r in
          cosine_topk_pq(df, df, k=1, m=8, n_codes=16, refine=32).collect()}
    assert all(t != q for q, t in pq.items())          # self excluded
    recall = sum(1 for q, t in pq.items() if brute[q] == t) / len(brute)
    assert recall >= 0.8, f"PQ clustered top-1 recall {recall:.2f}"


def test_verify_prefilter_respects_rounded_threshold(spark):
    """The size prefilter must keep pairs whose true Jaccard is just below
    the threshold but whose ROUND(J, 4) meets it — the final filter
    compares the rounded value (r4 review finding: a prefilter at the raw
    threshold dropped J in [thr-5e-5, thr) that the oracle emits)."""
    from shapely_spark.text.dedup import _verify_pairs

    # 1-token shingles, A ⊂ B: J = |A|/|B| = 13999/20000 = 0.69995,
    # which rounds to 0.7000 >= 0.7 — the pair must survive
    toks_b = [f"t{i}" for i in range(20000)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks_b[:13999])), (2, " ".join(toks_b))],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    out = _verify_pairs(docs, cand, "text", "doc_id",
                        threshold=0.7, shingle_n=1).collect()
    assert len(out) == 1
    assert out[0].jaccard == pytest.approx(0.7, abs=1e-9)


# ---------------------------------------------------------------------------
# BM25 retrieval (text/search.py)
# ---------------------------------------------------------------------------


def test_bm25_matches_numpy_reference(spark):
    """bm25_topk must reproduce the textbook Okapi BM25 (Robertson &
    Zaragoza 2009) computed directly with numpy on a small corpus."""
    import math

    from shapely_spark.text.search import bm25_topk

    rows = [
        (0, "spark join hash join shuffle"),
        (1, "hash table scan scan scan filter"),
        (2, "join join join join hash"),
        (3, "window sort order by window"),
        (4, "the quick brown fox"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["join", "hash"]
    k1, b = 1.2, 0.75

    texts = {i: t.split(" ") for i, t in rows}
    n = len(rows)
    avgdl = sum(len(w) for w in texts.values()) / n
    df = {t: sum(t in w for w in texts.values()) for t in terms}
    want = {}
    for i, w in texts.items():
        s = 0.0
        for t in terms:
            tf = w.count(t)
            if not tf:
                continue
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * len(w) / avgdl))
        if s > 0:
            want[i] = round(s, 6)

    out = bm25_topk(docs, terms, k=10, k1=k1, b=b).collect()
    got = {r.doc_id: r.score for r in out}
    assert got == pytest.approx(want)
    # ranks dense from 1 by (score desc, doc_id)
    order = sorted(want, key=lambda i: (-want[i], i))
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)] == order
    assert sorted(r.rank for r in out) == list(range(1, len(want) + 1))


def test_bm25_topk_limit_and_empty_terms(spark):
    from shapely_spark.text.search import bm25_topk

    docs = spark.createDataFrame(
        [(i, "a b c" + " x" * i) for i in range(8)],
        "doc_id long, text string")
    out = bm25_topk(docs, ["a"], k=3).collect()
    assert len(out) == 3
    # shorter docs score higher for equal tf
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)] == [0, 1, 2]
    with pytest.raises(ValueError):
        bm25_topk(docs, [])


# ---------------------------------------------------------------------------
# Bloom-filter decontamination tier (text/decontam.py)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fpp():
    from shapely_spark.text.decontam import NgramBloom

    keys = np.arange(-5000, 5000, dtype=np.int64) * 7919
    b = NgramBloom.build(keys, fpp=0.01)
    assert b.might_contain(keys).all()  # never a false negative
    other = np.arange(10**7, 10**7 + 10**5, dtype=np.int64) * 104729
    fp = b.might_contain(other).mean()
    assert fp < 0.03, fp  # ~1% target with statistical slack


def test_bloom_decontaminate_equals_exact(docs):
    """The Bloom tier must return the exact decontaminate() rows — the
    verify join removes every false positive. Run once at fpp=0.01 and
    once at fpp=0.5 (a deliberately saturated filter, FPs guaranteed in
    the candidate stream) to prove the verify stage, not filter luck."""
    from shapely_spark.text.decontam import bloom_decontaminate, decontaminate

    ev = docs.where(F.col("doc_id") < 10)
    train = docs.where(F.col("doc_id") >= 100)
    want = {(r.doc_id, r.n_hits)
            for r in decontaminate(train, ev, n=5).collect()}
    assert want  # planted near-dups must collide
    for fpp in (0.01, 0.5):
        got = {(r.doc_id, r.n_hits)
               for r in bloom_decontaminate(train, ev, n=5, fpp=fpp).collect()}
        assert got == want, fpp


# ---------------------------------------------------------------------------
# Unigram-LM log-prob scoring (text/quality.py)
# ---------------------------------------------------------------------------


def test_unigram_logprob_matches_hand_computation(spark):
    import math

    from shapely_spark.text.quality import unigram_logprob

    rows = [(0, "a a b"), (1, "b c"), (2, "a zzz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # corpus: a=3 b=2 c=1 zzz=1, total=7
    total = 7.0
    p = {"a": 3, "b": 2, "c": 1, "zzz": 1}
    want = {}
    for i, t in rows:
        ws = t.split(" ")
        want[i] = round(sum(math.log(p[w] / total) for w in ws) / len(ws), 6)
    got = {r.doc_id: r.avg_logp for r in unigram_logprob(docs).collect()}
    assert got == pytest.approx(want)


def test_unigram_logprob_oov_floor_and_external_lm(spark):
    import math

    from shapely_spark.text.quality import unigram_logprob

    lm = spark.createDataFrame([(0, "a a a b")], "doc_id long, text string")
    docs = spark.createDataFrame([(7, "a b x")], "doc_id long, text string")
    # total=4; x is OOV -> ln(0.5/4)
    want = round((math.log(3 / 4.0) + math.log(1 / 4.0)
                  + math.log(0.5 / 4.0)) / 3.0, 6)
    out = unigram_logprob(docs, lm_corpus=lm).collect()
    assert len(out) == 1 and out[0].n_tokens == 3
    assert out[0].avg_logp == pytest.approx(want)
    # min_count drops b (count 1) to the floor as well
    want2 = round((math.log(3 / 4.0) + 2 * math.log(0.5 / 4.0)) / 3.0, 6)
    out2 = unigram_logprob(docs, lm_corpus=lm, min_count=2).collect()
    assert out2[0].avg_logp == pytest.approx(want2)


# ---------------------------------------------------------------------------
# CCNet-style per-language perplexity bucketing (text/quality.ccnet_bucket)
# ---------------------------------------------------------------------------


def _ccnet_corpus(spark, n_per_lang=9):
    # per language: docs 0..n-1 where doc i repeats the common word i+1
    # times and a unique rare word once -> avg_logp strictly increases
    # with i (more common-word mass), so the expected tertiles are
    # known by construction.
    rows = []
    did = 0
    for lang in ("en", "de"):
        common = f"w{lang}"
        for i in range(n_per_lang):
            text = " ".join([common] * (i + 1) + [f"rare{lang}{i}"])
            rows.append((did, text, lang))
            did += 1
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_ccnet_bucket_exact_tertiles_per_language(spark):
    from shapely_spark.text.quality import ccnet_bucket

    docs = _ccnet_corpus(spark)
    out = ccnet_bucket(docs, method="ntile").collect()
    assert len(out) == 18
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        counts = {"head": 0, "middle": 0, "tail": 0}
        for r in rs:
            counts[r.bucket] += 1
        assert counts == {"head": 3, "middle": 3, "tail": 3}, (lang, counts)
        # head is the highest-logp third: every head score >= every
        # middle score >= every tail score
        hi = min(r.avg_logp for r in rs if r.bucket == "head")
        mid = [r.avg_logp for r in rs if r.bucket == "middle"]
        lo = max(r.avg_logp for r in rs if r.bucket == "tail")
        assert hi >= max(mid) - 1e-12 and min(mid) >= lo - 1e-12


def test_ccnet_bucket_approx_agrees_with_exact_on_distinct_scores(spark):
    from shapely_spark.text.quality import ccnet_bucket

    docs = _ccnet_corpus(spark)
    exact = {r.doc_id: r.bucket
             for r in ccnet_bucket(docs, method="ntile").collect()}
    approx = {r.doc_id: r.bucket
              for r in ccnet_bucket(docs, method="approx").collect()}
    # scores are all distinct by construction; the only legal
    # disagreement is AT a cutoff (quantile interpolation), i.e. a doc
    # sliding one adjacent bucket — never head<->tail
    for did, b in exact.items():
        a = approx[did]
        assert {a, b} != {"head", "tail"}, (did, a, b)
    agree = sum(1 for d in exact if approx[d] == exact[d])
    assert agree >= len(exact) - 4  # at most one slide per cutoff


def test_ccnet_bucket_partition_invariant_and_bad_method(spark):
    import pytest as _pytest

    from shapely_spark.text.quality import ccnet_bucket

    docs = _ccnet_corpus(spark)
    a = sorted((r.doc_id, r.bucket)
               for r in ccnet_bucket(docs, method="ntile").collect())
    b = sorted((r.doc_id, r.bucket)
               for r in ccnet_bucket(docs.repartition(7),
                                     method="ntile").collect())
    assert a == b
    with _pytest.raises(ValueError):
        ccnet_bucket(docs, method="nope")


def test_bigram_logprob_matches_hand_computation(spark):
    """Stupid Backoff hand oracle: corpus 'a b a b c' (one doc).
    counts: a:2 b:2 c:1, total=5; bigrams: (a,b):2 (b,a):1 (b,c):1.
    Positions: a→uni ln(2/5); b|a→ln(2/2); a|b→ln(1/2); b|a→ln(2/2);
    c|b→ln(1/2)."""
    import math

    from shapely_spark.text.quality import bigram_logprob

    docs = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    r = bigram_logprob(docs).collect()[0]
    want = (math.log(2 / 5) + math.log(2 / 2) + math.log(1 / 2)
            + math.log(2 / 2) + math.log(1 / 2)) / 5
    assert r.n_tokens == 5
    assert abs(r.avg_logp - round(want, 6)) < 1e-9


def test_bigram_logprob_backoff_and_oov(spark):
    """Unseen bigram backs off to alpha * P_uni; OOV token takes
    alpha * floor after the first position."""
    import math

    from shapely_spark.text.quality import bigram_logprob

    lm = spark.createDataFrame([(0, "x y x y")], "doc_id long, text string")
    docs = spark.createDataFrame([(1, "y x"), (2, "x z")],
                                 "doc_id long, text string")
    got = {r.doc_id: r.avg_logp for r in
           bigram_logprob(docs, lm_corpus=lm).collect()}
    # doc 1: y→uni ln(2/4); x|y→seen ln(1/2)
    want1 = (math.log(2 / 4) + math.log(1 / 2)) / 2
    # doc 2: x→uni ln(2/4); z|x unseen bigram, z OOV → ln(.4)+ln(.5/4)
    want2 = (math.log(2 / 4) + (math.log(0.4) + math.log(0.5 / 4))) / 2
    assert abs(got[1] - round(want1, 6)) < 1e-9
    assert abs(got[2] - round(want2, 6)) < 1e-9


def test_ccnet_bucket_bigram_model(spark):
    from shapely_spark.text.quality import ccnet_bucket

    rows = [(i, "en", ("w%d " % (i % 3)) * 4 + "tail w1 w2") for i in range(9)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = ccnet_bucket(docs, model="bigram").collect()
    assert len(out) == 9
    assert {r.bucket for r in out} == {"head", "middle", "tail"}
    import pytest

    with pytest.raises(ValueError, match="unknown model"):
        ccnet_bucket(docs, model="4gram")
    # trigram model routes through ngram_logprob
    out3 = ccnet_bucket(docs, model="trigram").collect()
    assert len(out3) == 9


def test_ngram_logprob_trigram_hand_computation(spark):
    """Order-3 Stupid Backoff hand oracle on 'a b a b c' (one doc):
    uni a:2 b:2 c:1 total 5; bi ab:2 ba:1 bc:1; tri aba:1 bab:1 abc:1.
    i0 a: ln(2/5); i1 b|a: ln(2/2); i2 a|ab: ln(1/2); i3 b|ba: ln(1/1);
    i4 c|ab: ln(1/2). No backoffs anywhere."""
    import math

    from shapely_spark.text.quality import bigram_logprob, ngram_logprob

    docs = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    r = ngram_logprob(docs, order=3).collect()[0]
    want = (math.log(2 / 5) + math.log(2 / 2) + math.log(1 / 2)
            + math.log(1 / 1) + math.log(1 / 2)) / 5
    assert r.n_tokens == 5
    assert abs(r.avg_logp - round(want, 6)) < 1e-9
    # order=2 agrees with the dedicated bigram implementation
    docs2 = spark.createDataFrame(
        [(1, "x y z x y"), (2, "y q")], "doc_id long, text string")
    a = {r.doc_id: r.avg_logp for r in ngram_logprob(docs2, order=2).collect()}
    b = {r.doc_id: r.avg_logp for r in bigram_logprob(docs2).collect()}
    assert a == b
    # order=1 agrees with unigram (plain mean ln P(w))
    from shapely_spark.text.quality import unigram_logprob

    c = {r.doc_id: r.avg_logp for r in ngram_logprob(docs2, order=1).collect()}
    d = {r.doc_id: r.avg_logp for r in unigram_logprob(docs2).collect()}
    assert c == d


def test_ngram_logprob_backoff_chain(spark):
    """Unseen trigram with seen bigram pays one alpha; unseen both pays
    two (when two higher levels were attempted)."""
    import math

    from shapely_spark.text.quality import ngram_logprob

    lm = spark.createDataFrame([(0, "a b c a b d")], "doc_id long, text string")
    docs = spark.createDataFrame([(1, "c a b"), (2, "b b z")],
                                 "doc_id long, text string")
    got = {r.doc_id: r.avg_logp for r in
           ngram_logprob(docs, lm_corpus=lm, order=3).collect()}
    # doc 1: c: ln(1/6); a|c: seen bigram "c a" (cnt 1)/cnt(c)=1 → ln(1);
    #        b|ca: trigram "c a b" seen once / bigram "c a" once → ln(1)
    want1 = (math.log(1 / 6) + math.log(1.0) + math.log(1.0)) / 3
    # doc 2: b: ln(2/6); b|b: bigram "b b" unseen → α·uni(b): ln(.4)+ln(2/6);
    #        z|bb: tri unseen, bigram "b z" unseen → α²·OOV floor
    want2 = (math.log(2 / 6)
             + (math.log(0.4) + math.log(2 / 6))
             + (2 * math.log(0.4) + math.log(0.5 / 6))) / 3
    assert abs(got[1] - round(want1, 6)) < 1e-9
    assert abs(got[2] - round(want2, 6)) < 1e-9


def test_ngram_logprob_short_documents(spark):
    """Documents shorter than the order score every token with the levels
    they have: no slice error, one row per token, and the same score as the
    bigram model (a 2-token document never reaches a trigram)."""
    import math

    from shapely_spark.text.quality import bigram_logprob, ngram_logprob

    lm = spark.createDataFrame([(0, "a b c a b"), (1, "b c d")],
                               "doc_id long, text string")
    docs = spark.createDataFrame([(1, "a"), (2, "a b"), (3, "d e")],
                                 "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.avg_logp) for r in
           ngram_logprob(docs, lm_corpus=lm, order=3).collect()}
    # total 8: a: ln(2/8); b|a: "a b" twice / a twice → ln(1)
    assert got[1] == (1, round(math.log(2 / 8), 6))
    assert got[2] == (2, round((math.log(2 / 8) + math.log(1.0)) / 2, 6))
    bigram = {r.doc_id: (r.n_tokens, r.avg_logp) for r in
              bigram_logprob(docs, lm_corpus=lm).collect()}
    assert got == bigram
    for order in (4, 5):
        assert {r.doc_id: (r.n_tokens, r.avg_logp) for r in ngram_logprob(
            docs, lm_corpus=lm, order=order).collect()} == bigram


def test_logprob_empty_lm_corpus_raises(spark):
    import pytest

    from shapely_spark.text.quality import (bigram_logprob, ngram_logprob,
                                            unigram_logprob)

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    nulls = spark.createDataFrame([(1, None)], "doc_id long, text string")
    for lm in (empty, nulls):
        for fn in (unigram_logprob, bigram_logprob, ngram_logprob):
            with pytest.raises(ValueError, match="LM corpus has no tokens"):
                fn(docs, lm_corpus=lm)
