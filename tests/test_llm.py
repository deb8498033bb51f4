"""§2.9 LLM-pipeline operators: dedup correctness, LSH recall, text
features, multimodal plumbing."""

import hashlib

import pyspark.sql.functions as F
import pytest

from akka_graph_db_spark.functions import (
    decontam,
    dedup,
    multimodal,
    search,
    similarity,
)
from akka_graph_db_spark.functions import text as textf
from conftest import SF


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s1", 43),
        (2, "the quick brown fox jumps over the lazy dog", "en", "s1", 43),
        (3, "the quick brown fox leaps over the lazy dog", "en", "s1", 43),
        (4, "completely different text about spark engines", "en", "s1", 45),
        (5, "lorem ipsum dolor sit amet consectetur", "la", "s2", 38),
        (6, "dog lazy the over jumps fox brown quick the", "en", "s1", 43),
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )


def test_exact_dedup(docs):
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5, 6]  # doc 2 == doc 1 exactly


def test_minhash_finds_identical_and_near(docs):
    pairs = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_dedup_pairs(
            docs, threshold=0.7, num_perm=32, bands=16, shingle_n=1
        ).collect()
    }
    assert (1, 2) in pairs  # identical
    assert (1, 3) in pairs  # one-word edit: token jaccard 7/9 ~ 0.78
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_threshold_boundary_pair_survives(spark):
    """A pair whose exact Jaccard sits EXACTLY at the threshold (4/5 with
    threshold=0.8 — fl(4/5) == fl(0.8)) must pass the size-ratio
    prefilter and the verify. Guards the prefilter's boundary math: the
    old `min >= t*max - eps` float form could round a boundary pair out;
    the division form admits everything the verify admits by
    construction (min/max >= |∩|/|∪| and double division is monotone)."""
    rows = [
        (1, "w1 w2 w3 w4 w5 w6 w7"),  # 5 distinct 3-shingles
        (2, "w1 w2 w3 w4 w5 w6"),  # its 4-shingle prefix: J = 4/5
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = dedup.minhash_dedup_pairs(
        df, threshold=0.8, num_perm=32, bands=32, shingle_n=3
    ).collect()
    assert [(r["a_id"], r["b_id"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard_sim"] == 0.8


def test_minhash_keep_collapses_clusters(docs):
    kept = sorted(
        r["doc_id"]
        for r in dedup.minhash_dedup_keep(
            docs, threshold=0.9, num_perm=32, bands=16, shingle_n=1
        ).collect()
    )
    # docs 1,2,6 share one token set -> one survivor (min id); 3,4,5 unique
    assert kept == [1, 3, 4, 5]


def test_minhash_keep_max_score_prefers_longest(spark):
    """keep='max_score' on n_chars keeps the LONGEST member of a near-dup
    cluster (doc 2 ⊃ doc 1, token Jaccard 10/11 ≈ 0.909 ≥ 0.9) where the
    default min_id keep would keep doc 1; the unrelated doc 3 survives
    either way."""
    t1 = "a b c d e f g h i j"
    t2 = t1 + " k"
    rows = [(1, t1, len(t1)), (2, t2, len(t2)), (3, "zz yy xx ww", 11)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, n_chars int")
    best = sorted(
        r["doc_id"]
        for r in dedup.minhash_dedup_keep(
            df, threshold=0.9, num_perm=32, bands=32, shingle_n=1,
            linkage="pairs", keep="max_score", score_col="n_chars",
        ).collect()
    )
    assert best == [2, 3]
    default = sorted(
        r["doc_id"]
        for r in dedup.minhash_dedup_keep(
            df, threshold=0.9, num_perm=32, bands=32, shingle_n=1,
            linkage="pairs",
        ).collect()
    )
    assert default == [1, 3]


def test_corpus_sketch_reuse_matches_fresh_compute(spark):
    """A shared corpus_sketch must reproduce EXACTLY the pairs and the
    survivors of every keep policy that fresh per-call signature/shingle
    computation yields — the sketch is a pure cache, not an
    approximation."""
    t1 = "a b c d e f g h i j"
    rows = [
        (1, t1, len(t1)),
        (2, t1 + " k", len(t1) + 2),
        (3, "zz yy xx ww", 11),
        (4, t1, len(t1)),  # exact dup of 1: exercises the collapse
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, n_chars int"
    )
    sk = dedup.corpus_sketch(df, num_perm=32, shingle_n=1)
    pairs_fresh = sorted(
        (r["a_id"], r["b_id"], r["jaccard_sim"])
        for r in dedup.minhash_dedup_pairs(
            df, threshold=0.9, num_perm=32, bands=32, shingle_n=1
        ).collect()
    )
    pairs_sk = sorted(
        (r["a_id"], r["b_id"], r["jaccard_sim"])
        for r in dedup.minhash_dedup_pairs(
            df, threshold=0.9, num_perm=32, bands=32, shingle_n=1,
            sketch=sk,
        ).collect()
    )
    assert pairs_fresh == pairs_sk and pairs_fresh
    for linkage in ("pairs", "star"):
        for kw in (
            dict(keep="min_id"),
            dict(keep="max_score", score_col="n_chars"),
        ):
            fresh = sorted(
                r["doc_id"]
                for r in dedup.minhash_dedup_keep(
                    df, threshold=0.9, num_perm=32, bands=32,
                    shingle_n=1, linkage=linkage, **kw,
                ).collect()
            )
            shared = sorted(
                r["doc_id"]
                for r in dedup.minhash_dedup_keep(
                    df, threshold=0.9, num_perm=32, bands=32,
                    shingle_n=1, linkage=linkage, sketch=sk, **kw,
                ).collect()
            )
            assert fresh == shared, (linkage, kw)


def test_bpe_pair_counts_first_merge(spark):
    """'banana apple' -> pairs from 'banana' (ba an na an na) and
    'apple' (ap pp pl le); the argmax pair 'an'/'na' (2 each) is what
    BPE would merge first; single-char words contribute nothing."""
    from akka_graph_db_spark.functions import text as textf

    df = spark.createDataFrame(
        [(1, "banana apple a")], "doc_id bigint, text string"
    )
    got = {
        r["pair"]: r["pair_count"]
        for r in textf.bpe_pair_counts(df, top_k=10).collect()
    }
    assert got == {
        "an": 2, "na": 2, "ap": 1, "ba": 1, "le": 1, "pl": 1, "pp": 1
    }


def test_set_similarity_join_exact_recall(spark):
    """Prefix filtering is LOSSLESS: the join must equal brute-force
    Jaccard >= t over all pairs — including a pair at exactly the
    threshold with |S| = 5, where a float ceil(0.8*5) = ceil(4.0000004)
    = 5 would shorten the prefix to 1 and drop pairs (the integer
    permille arithmetic keeps it 2)."""
    rows = [
        # docs 1, 2: unigram sets {a b c d e} vs {a b c d f}:
        # J = 4/6 < 0.8 -> excluded
        (1, "a b c d e"),
        (2, "a b c d f"),
        # docs 3, 4: {a b c d e} vs {b c d e a} -> J = 1.0
        (3, "p q r s t"),
        (4, "t s r q p"),
        # docs 5, 6: {g h i j} vs {g h i j k} — inter 4, union 5,
        # J = 4/5 = 0.8 EXACTLY (the threshold-boundary pair)
        (5, "g h i j"),
        (6, "g h i j k"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r["a_id"], r["b_id"], round(r["jaccard_sim"], 9))
        for r in dedup.set_similarity_join(
            df, threshold=0.8, shingle_n=1
        ).collect()
    )
    assert got == [(3, 4, 1.0), (5, 6, 0.8)]


def test_corpus_sketch_parameter_mismatch_raises(spark):
    """A sketch built with different num_perm/shingle_n must be REFUSED,
    not silently answered with wrong bands/shingles (ADVICE r6: defaults
    even disagree — corpus_sketch shingle_n=1 vs dedup_pairs
    shingle_n=3)."""
    import pytest

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id bigint, text string"
    )
    sk = dedup.corpus_sketch(df, num_perm=32, shingle_n=1)
    with pytest.raises(ValueError, match="num_perm=32, shingle_n=1"):
        dedup.minhash_dedup_pairs(
            df, threshold=0.9, num_perm=64, bands=16, shingle_n=1,
            sketch=sk,
        )
    with pytest.raises(ValueError, match="rebuild the sketch"):
        # defaults: minhash_dedup_pairs shingle_n=3 vs sketch's 1
        dedup.minhash_dedup_pairs(
            df, num_perm=32, bands=32, sketch=sk
        )
    with pytest.raises(ValueError, match="rebuild the sketch"):
        dedup.minhash_dedup_keep(
            df, threshold=0.9, num_perm=64, bands=16, shingle_n=3,
            sketch=sk,
        )


def test_token_jaccard_order_insensitive(docs):
    # doc 6 is doc 1 with shuffled word order: token-set jaccard = 1.0
    pairs = {
        (r["a_id"], r["b_id"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.99).collect()
    }
    assert (1, 6) in pairs and (2, 6) in pairs


def test_simhash_exact_for_small_hamming(docs):
    # chunk-bucket candidates are COMPLETE for hamming <= n_chunks-1:
    # compare against the all-pairs brute force
    sh = docs.select(
        "doc_id", dedup.simhash(F.col("text")).alias("s")
    ).collect()
    vals = {r["doc_id"]: r["s"] for r in sh}
    brute = {
        (a, b)
        for a in vals
        for b in vals
        if a < b and bin((vals[a] ^ vals[b]) & (2**64 - 1)).count("1") <= 3
    }
    got = {
        (r["a_id"], r["b_id"])
        for r in dedup.simhash_dedup_pairs(docs, max_hamming=3).collect()
    }
    assert got == brute
    assert (1, 2) in got  # identical docs have identical simhash


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(emb, q, k=5).collect()
    }
    # this fixture's neighbors are weak (max cosine ~0.5, near-orthogonal
    # random vectors) — the hardest case for hyperplane LSH; p_agree ~0.6
    # per plane -> 4 planes x 12 tables gives ~0.8 expected recall
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(
            emb, q, k=5, planes=4, tables=12
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb, q, k=5, n_centroids=16, n_probe=6
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_embedding_dedup_finds_duplicates(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
    dup = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(dup)
    pairs = dedup.embedding_dedup_pairs(both, threshold=0.999)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    expect = {(r["vec_id"], r["vec_id"] + 10_000) for r in emb.collect()}
    assert expect <= got


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world "), (2, ""), (3, "a b c")],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", textf.token_count(F.col("text")).alias("n")
        ).collect()
    }
    assert rows == {1: 2, 2: 0, 3: 3}


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat of the mat and it is that for"),
            (2, "der hund ist nicht ein und das die"),
            (3, "el perro es la que de un en los y"),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: r["lang_pred"] for r in textf.lang_id(df).collect()
    }
    assert rows == {1: "en", 2: "de", 3: "es"}


def test_fingerprint_stability(docs):
    fp1 = {
        r["doc_id"]: (r["content_hash"], r["min_shingle_hash"])
        for r in textf.fingerprint(docs).collect()
    }
    fp2 = {
        r["doc_id"]: (r["content_hash"], r["min_shingle_hash"])
        for r in textf.fingerprint(docs).collect()
    }
    assert fp1 == fp2  # deterministic
    assert fp1[1] == fp1[2]  # identical docs, identical fingerprints
    assert fp1[1][0] != fp1[3][0]  # different content, different hash


def test_multimodal_meta_sha(spark, docs):
    media = multimodal.documents_as_media(docs)
    rows = {r["media_id"]: r for r in multimodal.extract_meta(media).collect()}
    t = "the quick brown fox jumps over the lazy dog"
    assert rows[1]["sha256"] == hashlib.sha256(t.encode()).hexdigest()
    assert rows[1]["n_bytes"] == len(t.encode())
    assert rows[1]["sniffed_kind"] == "application/octet-stream"


def test_multimodal_decode_stub_raises(spark, docs):
    media = multimodal.documents_as_media(docs)
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; stub path not reachable")
    except ImportError:
        pass
    with pytest.raises(Exception):  # NotImplementedError inside executor
        multimodal.decode_images(media, allow_fake=False).collect()


def test_multimodal_fake_decode_deterministic(spark, docs):
    media = multimodal.documents_as_media(docs)
    a = sorted(
        map(tuple, multimodal.decode_images(media, allow_fake=True).collect())
    )
    b = sorted(
        map(tuple, multimodal.decode_images(media, allow_fake=True).collect())
    )
    assert a == b
    assert all(r[4] for r in a)  # ok flag


def test_gopher_rules_verdicts(spark):
    """Hand-built docs hitting individual Gopher rules: a clean passing
    doc, a too-short doc, a bullet-list doc, a no-alpha doc, and a
    symbol-spam doc."""
    good = " ".join(
        ["the quick brown fox jumps over and rests with the lazy dog to be"]
        * 5
    )  # 65 words, mean len ~3.5, plenty of stopwords
    short = "the cat sat with me"  # 5 words < 50
    bullets = "\n".join(f"- {w}" for w in ["item"] * 12)  # all bullet lines
    digits = " ".join(["12345"] * 60)  # no alpha words, no stopwords
    spam = " ".join(["the#word##tag###with", "of", "and", "that"] * 15)
    rows = [
        (1, good),
        (2, short),
        (3, bullets),
        (4, digits),
        (5, spam),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r
        for r in textf.gopher_rules(df).collect()
    }
    assert got[1]["gopher_pass"] is True
    assert got[1]["n_gopher_stopwords"] >= 2
    assert got[2]["gopher_pass"] is False  # word-count floor
    assert got[3]["gopher_pass"] is False
    assert got[3]["frac_bullet_lines"] == 1.0
    assert got[4]["gopher_pass"] is False
    assert got[4]["frac_alpha_words"] == 0.0
    assert got[5]["gopher_pass"] is False  # symbol ratio over 0.1
    assert got[5]["symbol_word_ratio"] > 0.1


def test_quality_features_ranges(docs):
    rows = textf.quality_features(docs).collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0


def test_md5_hash_family_matches_reference_bytes(spark):
    # Pin the cross-engine contract: md5_64 == little-endian uint64 of the
    # first 8 MD5 digest bytes (what DuckDB's md5_number_upper returns).
    import struct

    from akka_graph_db_spark.functions.hashing import md5_63, md5_64

    words = ["abc", "", "ünïcode", "hello world"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    rows = df.select(
        "s", md5_64(F.col("s")).alias("h64"), md5_63(F.col("s")).alias("h63")
    ).collect()
    for r in rows:
        u = struct.unpack("<Q", hashlib.md5(r["s"].encode()).digest()[:8])[0]
        signed = u - (1 << 64) if u >= (1 << 63) else u
        assert r["h64"] == signed
        assert r["h63"] == (u & 0x7FFFFFFFFFFFFFFF)


def test_simhash_md5_family_matches_bruteforce(docs):
    got = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in dedup.simhash_dedup_pairs(
            docs, max_hamming=3, hash_family="md5"
        ).collect()
    }
    sigs = {
        r["_id"]: r["s"]
        for r in docs.select(
            F.col("doc_id").alias("_id"),
            dedup.simhash(F.col("text"), 64, "md5").alias("s"),
        ).collect()
    }
    ids = sorted(sigs)
    want = {
        (a, b, bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert got == want


def test_keep_star_refines_pairs_linkage(docs):
    # Star components partition each pairs-linkage component, so every
    # pairs-survivor (component min) is also a star-survivor.
    pairs_keep = {
        r["doc_id"]
        for r in dedup.minhash_dedup_keep(
            docs, threshold=0.9, linkage="pairs"
        ).collect()
    }
    star_keep = {
        r["doc_id"]
        for r in dedup.minhash_dedup_keep(
            docs, threshold=0.9, linkage="star"
        ).collect()
    }
    assert pairs_keep <= star_keep


def test_chunk_documents_coverage_and_overlap(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, ""), (3, "x")],
        "doc_id bigint, text string",
    )
    out = textf.chunk_documents(df, chunk_tokens=3, overlap=1)
    rows = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_n_tokens"], r["chunk_text"])
        for r in out.collect()
    }
    # stride 2 over 7 tokens: starts 0,2,4,6 — last two chunks short/partial
    assert rows[(1, 0)] == (3, "a b c")
    assert rows[(1, 1)] == (3, "c d e")
    assert rows[(1, 2)] == (3, "e f g")
    assert rows[(1, 3)] == (1, "g")
    assert (2, 0) not in rows  # zero-token doc -> no chunks
    assert rows[(3, 0)] == (1, "x")
    assert len(rows) == 5
    # every token of doc 1 appears in some chunk
    covered = set()
    for (d, _), (_, t) in rows.items():
        if d == 1:
            covered |= set(t.split())
    assert covered == set("abcdefg")


def test_stratified_sample_deterministic_and_mixture(docs):
    frac = {"en": 0.5, "la": 1.0}
    a = textf.stratified_sample(docs, frac)
    b = textf.stratified_sample(docs, frac)
    ids_a = sorted(r["doc_id"] for r in a.collect())
    assert ids_a == sorted(r["doc_id"] for r in b.collect())
    assert 5 in ids_a  # la fraction 1.0 keeps everything
    # absent strata are dropped entirely
    none_kept = textf.stratified_sample(docs, {"zz": 1.0})
    assert none_kept.count() == 0
    # md5 family agrees with its own rerun and respects fraction 0
    zero = textf.stratified_sample(docs, {"en": 0.0}, hash_family="md5")
    assert zero.count() == 0


def test_pack_chunks_next_fit(spark):
    rows = [(1, 0, 30), (1, 1, 30), (2, 0, 30), (2, 1, 10), (3, 0, 90)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, chunk_idx bigint, chunk_n_tokens bigint"
    )
    out = {
        (r["doc_id"], r["chunk_idx"]): (r["pack_id"], r["pack_offset"])
        for r in textf.pack_chunks(df, budget=64).collect()
    }
    # cumulative-before: 0,30,60,90,100 -> packs 0,0,0(straddles),1,1
    assert out[(1, 0)] == (0, 0)
    assert out[(1, 1)] == (0, 30)
    assert out[(2, 0)] == (0, 60)  # starts in pack 0, overflows into 1
    assert out[(2, 1)] == (1, 26)
    assert out[(3, 0)] == (1, 36)


def test_pack_chunks_sharded_independent(spark):
    rows = [(1, 0, 50, "a"), (2, 0, 50, "b"), (3, 0, 50, "a")]
    df = spark.createDataFrame(
        rows,
        "doc_id bigint, chunk_idx bigint, chunk_n_tokens bigint,"
        " shard string",
    )
    out = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in textf.pack_chunks(
            df, budget=64, partition_cols=("shard",)
        ).collect()
    }
    # each shard packs from offset 0 independently
    assert out[1] == (0, 0)
    assert out[2] == (0, 0)
    assert out[3] == (0, 50)


def test_contamination_counts(spark):
    train = spark.createDataFrame(
        [(1, "a b c d")], "doc_id bigint, text string"
    )
    ev = spark.createDataFrame(
        [(10, "a b c x"), (11, "z z z z")], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: r
        for r in decontam.contamination(train, ev, n=3).collect()
    }
    # doc 10: grams {a b c, b c x}; train has {a b c, b c d} -> 1/2
    assert out[10]["n_ngrams"] == 2 and out[10]["n_overlap"] == 1
    assert out[10]["contamination"] == 0.5
    # doc 11: grams {z z z} (distinct) -> 0 overlap
    assert out[11]["n_overlap"] == 0 and out[11]["contamination"] == 0.0


def test_contamination_short_doc_full_shingle(spark):
    train = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    ev = spark.createDataFrame([(2, "a b")], "doc_id bigint, text string")
    row = decontam.contamination(train, ev, n=5).collect()[0]
    assert row["n_ngrams"] == 1 and row["contamination"] == 1.0


def test_cms_overestimates_never_under(spark):
    """CMS invariant: estimate >= true count for EVERY term (row-min of
    counters can only add collision mass); on a tiny vocabulary vs a
    4x1024 sketch there are no collisions, so estimates are exact."""
    from akka_graph_db_spark.functions.search import (
        cms_estimate,
        cms_sketch,
    )

    toks = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)], "term string"
    )
    sk = cms_sketch(toks, width=1024, depth=4)
    exact = {"a": 5, "b": 3, "c": 1}
    terms = spark.createDataFrame([(t,) for t in exact], "term string")
    est = {
        r["term"]: r["cms_estimate"]
        for r in cms_estimate(sk, terms, width=1024, depth=4).collect()
    }
    assert est == exact  # no collisions at this scale
    # a term depth*width can't avoid: force collisions with width=1
    sk1 = cms_sketch(toks, width=1, depth=2)
    est1 = {
        r["term"]: r["cms_estimate"]
        for r in cms_estimate(sk1, terms, width=1, depth=2).collect()
    }
    assert all(est1[t] >= exact[t] for t in exact)
    assert est1["a"] == 9  # every token lands in the one bucket


def test_cms_out_of_corpus_term_estimates_zero(spark):
    """A term absent from the corpus whose counters are all empty must
    estimate 0, not vanish (ADVICE r6: the probe is a LEFT join with
    empty cells coalesced to 0 — an inner join dropped such terms)."""
    from akka_graph_db_spark.functions.search import (
        cms_estimate,
        cms_sketch,
    )

    toks = spark.createDataFrame([("a",)] * 5, "term string")
    sk = cms_sketch(toks, width=1024, depth=4)
    terms = spark.createDataFrame(
        [("a",), ("never-seen-term",)], "term string"
    )
    est = {
        r["term"]: r["cms_estimate"]
        for r in cms_estimate(sk, terms, width=1024, depth=4).collect()
    }
    assert est["a"] == 5
    # 4 independent 1/1024 collision chances: the min is 0 unless all
    # four rows collide with 'a' — deterministic given the pinned hash
    # draw, and 0 for this fixture.
    assert est["never-seen-term"] == 0


def test_hll_fixed_memory_accuracy_and_determinism(spark):
    """HLL sketch: at most m register rows no matter the input size;
    the raw estimator lands within the ~3.25% standard error band of
    the true cardinality for n >> 2.5m; duplicates change NOTHING
    (registers are maxes of a value-determined rho); and the estimate
    is a pure function of the value set (pinned hash draw)."""
    from pyspark.sql import functions as F

    from akka_graph_db_spark.functions.search import (
        hll_estimate,
        hll_sketch,
    )

    n = 50_000
    vals = spark.range(n).select(F.col("id").alias("v"))
    sk = hll_sketch(vals, "v", p=10)
    assert sk.count() <= 1024
    est = hll_estimate(sk, p=10).collect()[0]["hll_estimate"]
    assert abs(est - n) / n < 0.10  # 3 sigma of 1.04/sqrt(1024)
    # duplicates are invisible: 3 copies of every value, same registers
    dup = vals.unionByName(vals).unionByName(vals)
    est_dup = hll_estimate(
        hll_sketch(dup, "v", p=10), p=10
    ).collect()[0]["hll_estimate"]
    assert est_dup == est


def test_rrf_fuse_full_outer_and_order(spark):
    """RRF: a doc ranked by BOTH systems outranks single-system docs of
    comparable rank; docs from only one side still score (full outer);
    the score is exactly 1/(k+ra) + 1/(k+rb)."""
    from akka_graph_db_spark.functions.search import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id bigint, rank int"
    )
    b = spark.createDataFrame(
        [(2, 1), (4, 2)], "doc_id bigint, rank int"
    )
    rows = rrf_fuse(a, b, k=60, top_k=10).collect()
    scores = {r["doc_id"]: r["rrf_score"] for r in rows}
    assert scores[2] == 1.0 / 62 + 1.0 / 61  # both systems
    assert scores[1] == 1.0 / 61  # a only
    assert scores[4] == 1.0 / 62  # b only (full outer kept it)
    assert rows[0]["doc_id"] == 2  # fused winner leads
    assert rows[0]["rank_a"] == 2 and rows[0]["rank_b"] == 1


def test_bm25_ranks_matching_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "spark spark spark is fast"),
            (2, "spark joins the window"),
            (3, "nothing relevant here at all"),
            (4, "window window window window window"),
        ],
        "doc_id bigint, text string",
    )
    top = search.bm25_topk(corpus, ["spark", "window"], k=10).collect()
    ids = [r["doc_id"] for r in top]
    assert 3 not in ids  # no query term
    assert set(ids) == {1, 2, 4}
    by_id = {r["doc_id"]: r for r in top}
    assert by_id[2]["n_query_terms_matched"] == 2
    # doc 2 matches both terms; single-term docs score lower than the
    # two-term doc under equal df
    assert ids[0] == 2
    assert all(r["score"] > 0 for r in top)


def test_vocabulary_counts(spark):
    corpus = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id bigint, text string"
    )
    rows = {r["term"]: r for r in search.vocabulary(corpus).collect()}
    assert rows["a"]["term_count"] == 3 and rows["a"]["doc_count"] == 2
    assert rows["b"]["term_count"] == 1 and rows["b"]["doc_count"] == 1
    assert search.vocabulary(corpus, min_count=2).count() == 1


def test_redact_pii_kinds(spark):
    df = spark.createDataFrame(
        [
            (
                1,
                "mail bob@corp.io from 192.168.0.1 call +1 555-0100 ok",
            ),
            (2, "clean text only"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in textf.redact_pii(df).collect()}
    assert (
        out[1]["n_email"],
        out[1]["n_ipv4"],
        out[1]["n_phone"],
    ) == (1, 1, 1)
    assert out[1]["text_redacted"] == (
        "mail [EMAIL] from [IPV4] call [PHONE] ok"
    )
    assert out[2]["text_redacted"] == "clean text only"
    assert out[2]["n_email"] == 0


def test_redact_pii_ipv4_not_phone(spark):
    # the phone pass must not half-eat an IPv4 literal (dots excluded)
    df = spark.createDataFrame(
        [(1, "host 10.20.30.40 end")], "doc_id bigint, text string"
    )
    row = textf.redact_pii(df).collect()[0]
    assert row["n_ipv4"] == 1 and row["n_phone"] == 0
    assert row["text_redacted"] == "host [IPV4] end"


def test_quantize_int8_values(spark):
    from akka_graph_db_spark.functions import similarity

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    q = {
        r["vec_id"]: r["q"]
        for r in df.select(
            "vec_id", similarity.quantize_int8(F.col("embedding")).alias("q")
        ).collect()
    }
    assert q[1] == [127, -64, 32]  # round half away from zero
    assert q[2] == [0, 0, 0]  # zero vector stays zeros


def test_quantized_topk_identical_vector_wins(spark):
    from akka_graph_db_spark.functions import similarity

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0]),
            (10, [1.0, 2.0, 3.0]),   # exact copy of the query
            (11, [-1.0, -2.0, -3.0]),
            (12, [3.0, 1.0, 0.5]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    q = corpus.where(F.col("vec_id") == 1)
    rows = similarity.quantized_topk(corpus, q, k=3).collect()
    by_rank = {r["rank"]: r for r in rows}
    assert by_rank[1]["neighbor_id"] == 10
    assert abs(by_rank[1]["qcos"] - 1.0) < 1e-12
    assert by_rank[3]["neighbor_id"] == 11  # opposite vector ranks last
    assert abs(by_rank[3]["qcos"] + 1.0) < 1e-12


def test_range_join_matches_naive(spark):
    """Bucketed range join == naive inequality join, including intervals
    that straddle bucket boundaries."""
    from akka_graph_db_spark.functions.rangejoin import range_join_buckets

    pts = spark.createDataFrame(
        [
            (1, "2024-01-01 00:59:59"),
            (1, "2024-01-01 01:00:01"),
            (1, "2024-01-01 02:30:00"),
            (2, "2024-01-01 01:30:00"),
        ],
        "user_id bigint, s string",
    ).select("user_id", F.to_timestamp("s").alias("p_ts"))
    iv = spark.createDataFrame(
        [
            (1, 100, "2024-01-01 00:30:00", "2024-01-01 01:30:00"),
            (1, 101, "2024-01-01 02:00:00", "2024-01-01 03:00:00"),
            (2, 102, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
        ],
        "user_id bigint, iv_id bigint, lo_s string, hi_s string",
    ).select(
        "user_id",
        "iv_id",
        F.to_timestamp("lo_s").alias("lo"),
        F.to_timestamp("hi_s").alias("hi"),
    )
    got = sorted(
        (r["user_id"], r["iv_id"], str(r["p_ts"]))
        for r in range_join_buckets(
            pts, iv, ["user_id"], "p_ts", "lo", "hi", bucket_seconds=3600
        ).collect()
    )
    naive = sorted(
        (r["user_id"], r["iv_id"], str(r["p_ts"]))
        for r in pts.join(
            iv.withColumnRenamed("user_id", "u2"),
            (F.col("user_id") == F.col("u2"))
            & (F.col("p_ts") >= F.col("lo"))
            & (F.col("p_ts") < F.col("hi")),
        ).collect()
    )
    assert got == naive and len(got) == 3


def test_salted_join_identical_to_plain(spark):
    from akka_graph_db_spark.functions.skew import salted_join

    left = spark.createDataFrame(
        [(k, i) for k in (1, 1, 1, 2) for i in range(5)],
        "k bigint, row_id bigint",
    ).withColumn("row_id", F.monotonically_increasing_id())
    right = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, tag string"
    )
    got = sorted(
        map(tuple, salted_join(
            left, right, ["k"], salt_from="row_id", n_salt=4
        ).select("k", "tag").collect())
    )
    want = sorted(
        map(tuple, left.join(right, "k").select("k", "tag").collect())
    )
    assert got == want


def test_sessionize_ordinals_and_gap_boundary(spark):
    """Ordinal sessionization: a gap of EXACTLY the threshold stays in
    the same session (strict >); the session_seq numbers islands 1..n
    per user in time order; a second user's numbering is independent."""
    from akka_graph_db_spark.functions import events as ev

    rows = [
        # user 1: two events 600s apart (same session), then 601s gap
        (1, "2024-01-01 00:00:00", 10),
        (2, "2024-01-01 00:10:00", 10),
        (3, "2024-01-01 00:20:01", 10),
        # user 2: one lone event
        (4, "2024-01-01 05:00:00", 20),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, s string, user_id bigint"
    ).select("event_id", F.to_timestamp("s").alias("ts"), "user_id")
    got = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["duration_sec"])
        for r in ev.sessionize(df, gap_minutes=10).collect()
    }
    assert got == {
        (10, 1): (2, 600),   # exact-gap event joined session 1
        (10, 2): (1, 0),     # 601s gap opened session 2
        (20, 1): (1, 0),
    }


def test_hierarchical_rollup_composes(spark):
    from akka_graph_db_spark.functions import events as ev

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:10", 1.25),
            (2, "2024-01-01 00:00:50", 2.50),
            (3, "2024-01-01 00:59:00", 4.00),
            (4, "2024-01-01 23:01:00", 8.00),
            (5, "2024-01-02 00:00:00", 16.00),
        ],
        "event_id bigint, s string, value double",
    ).select("event_id", F.to_timestamp("s").alias("ts"), "value")
    rows = ev.hierarchical_rollup(df).collect()
    by = {(r["grain"], r["bucket_start"]): r for r in rows}
    assert by[("minute", "2024-01-01 00:00:00")]["n_events"] == 2
    assert by[("minute", "2024-01-01 00:00:00")]["sum_value"] == 3.75
    assert by[("hour", "2024-01-01 00:00:00")]["sum_value"] == 7.75
    assert by[("day", "2024-01-01 00:00:00")]["n_events"] == 4
    assert by[("day", "2024-01-01 00:00:00")]["sum_value"] == 15.75
    assert by[("day", "2024-01-02 00:00:00")]["sum_value"] == 16.0
    # grains partition the events: counts agree level-to-level
    assert (
        sum(r["n_events"] for r in rows if r["grain"] == "minute")
        == sum(r["n_events"] for r in rows if r["grain"] == "day")
        == 5
    )


def test_length_quantiles_closed_form(spark):
    from akka_graph_db_spark.functions import text as tf

    df = spark.createDataFrame(
        [("en", 1), ("en", 2), ("en", 3), ("en", 4)],
        "lang string, n_chars bigint",
    )
    r = tf.length_quantiles(df).collect()[0]
    assert r["n_docs"] == 4
    assert r["p25"] == 1.75 and r["p50"] == 2.5 and r["p75"] == 3.25


def test_funnel_greedy_order(spark):
    from akka_graph_db_spark.functions.funnel import funnel

    rows = [
        (1, "view", "2024-01-01 00:01:00"),
        (1, "click", "2024-01-01 00:02:00"),
        (1, "purchase", "2024-01-01 00:03:00"),
        (2, "click", "2024-01-01 00:01:00"),   # click BEFORE view: no credit
        (2, "view", "2024-01-01 00:02:00"),
        (3, "view", "2024-01-01 00:01:00"),
        (3, "purchase", "2024-01-01 00:01:30"),  # purchase before click
        (3, "click", "2024-01-01 00:02:00"),
        (4, "click", "2024-01-01 00:01:00"),   # never viewed: absent
    ]
    ev = spark.createDataFrame(
        rows, "user_id bigint, event_type string, s string"
    ).select("user_id", "event_type", F.to_timestamp("s").alias("ts"))
    got = {
        r["user_id"]: r["steps_completed"]
        for r in funnel(ev, ["view", "click", "purchase"]).collect()
    }
    assert got == {1: 3, 2: 1, 3: 2}


def test_weighted_sample_deterministic_and_bounded(spark):
    from akka_graph_db_spark.functions import text as tf

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", (i % 7) + 1) for i in range(60)]
        + [(100, "en", 0), (101, "en", None)],  # unsampleable weights
        "doc_id bigint, lang string, n_chars bigint",
    )
    s1 = tf.weighted_sample(df, 5, group_cols=("lang",))
    s2 = tf.weighted_sample(df, 5, group_cols=("lang",))
    rows1 = sorted((r["lang"], r["doc_id"]) for r in s1.collect())
    rows2 = sorted((r["lang"], r["doc_id"]) for r in s2.collect())
    assert rows1 == rows2  # hash-deterministic, no RNG
    from collections import Counter

    per_group = Counter(lang for lang, _ in rows1)
    assert per_group == {"en": 5, "de": 5}
    assert all(d not in (100, 101) for _, d in rows1)


def test_weighted_sample_prefers_heavy_rows(spark):
    """With one row a million times heavier, its priority u/w is ~1e-6 of
    any uniform competitor's — it must be in every top-1 sample."""
    from akka_graph_db_spark.functions import text as tf

    df = spark.createDataFrame(
        [(i, 1) for i in range(50)] + [(99, 10_000_000)],
        "doc_id bigint, n_chars bigint",
    )
    got = tf.weighted_sample(df, 1).collect()
    assert [r["doc_id"] for r in got] == [99]


def test_jsonl_roundtrip_preserves_text(spark):
    import tempfile

    from akka_graph_db_spark.sources import files

    df = spark.createDataFrame(
        [
            (1, 'line one\nline "two"', "en"),
            (2, "unicode: éè中文", "zh"),
            (3, "", "en"),
        ],
        "doc_id bigint, text string, lang string",
    )
    path = tempfile.mkdtemp(prefix="jsonl_t_") + "/d"
    files.write_jsonl(df, path)
    back = files.read_jsonl(
        spark, path, "doc_id bigint, text string, lang string"
    )
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    want = {r["doc_id"]: r["text"] for r in df.collect()}
    assert got == want



def test_value_outliers_closed_form(spark):
    """49 values at 0/100 alternating + one at 10000: the extreme point
    is the only |z|>3 outlier."""
    from akka_graph_db_spark.functions import events as ev

    rows = [(i, "click", float(i % 2) * 100) for i in range(49)]
    rows.append((99, "click", 10_000.0))
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double"
    )
    got = ev.value_outliers(df, z=3.0).collect()
    assert [r["event_id"] for r in got] == [99]
    assert got[0]["zscore"] > 3





def test_cohort_retention_closed_form(spark):
    """User 1 active weeks 0 and 2 (from its own cohort start); user 2
    only week 0; cohorts differ."""
    from akka_graph_db_spark.functions import events as ev

    rows = [
        (1, 1, "2024-01-01 10:00:00"),   # Monday, cohort week 1
        (2, 1, "2024-01-15 10:00:00"),   # +2 weeks
        (3, 2, "2024-01-08 10:00:00"),   # cohort week 2, only week 0
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, s string"
    ).select("event_id", "user_id", F.to_timestamp("s").alias("ts"))
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in ev.cohort_retention(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_event_transitions_tiebreak(spark):
    """Equal timestamps order by event_id — the sequence is total and
    deterministic."""
    from akka_graph_db_spark.functions import events as ev

    rows = [
        (1, 1, "view", "2024-01-01 00:00:00"),
        (2, 1, "click", "2024-01-01 00:00:00"),   # same ts: id orders it
        (3, 1, "purchase", "2024-01-01 00:01:00"),
        (4, 2, "view", "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, s string"
    ).select("event_id", "user_id", "event_type",
             F.to_timestamp("s").alias("ts"))
    got = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in ev.event_transitions(df).collect()
    }
    assert got == {("view", "click"): 1, ("click", "purchase"): 1}


def test_exact_span_dedup_removes_shared_8gram(spark):
    """A shared 8-gram is deleted from BOTH docs; words outside it and
    short documents are untouched."""
    from akka_graph_db_spark.functions import dedup

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} tail1"),
            (2, f"head {shared}"),
            (3, "short doc"),
        ],
        "doc_id bigint, text string",
    )
    rows = dedup.exact_span_dedup(docs, ngram_n=8, min_docs=2).collect()
    got = {
        r["doc_id"]: (r["n_words"], r["n_dup_words"], r["clean_text"])
        for r in rows
    }
    assert got == {
        1: (9, 8, "tail1"),
        2: (9, 8, "head"),
        3: (2, 0, "short doc"),
    }


def test_exact_span_dedup_overlapping_grams_union_coverage(spark):
    """A 9-word shared span = two overlapping duplicated 8-grams; the
    covered-position UNION removes all 9 words exactly once, and a doc
    that is ENTIRELY duplicated cleans to the empty string."""
    from akka_graph_db_spark.functions import dedup

    span9 = " ".join(f"v{i}" for i in range(9))
    docs = spark.createDataFrame(
        [(10, span9), (11, f"{span9} extra")],
        "doc_id bigint, text string",
    )
    rows = dedup.exact_span_dedup(docs, ngram_n=8, min_docs=2).collect()
    got = {
        r["doc_id"]: (r["n_words"], r["n_dup_words"], r["clean_text"])
        for r in rows
    }
    assert got == {10: (9, 9, ""), 11: (10, 9, "extra")}


def test_kmeans_quantized_two_groups_exact(spark):
    """Two well-separated pairs, one seed in each (ids 1, 2): membership
    is obvious and the grid arithmetic makes the inertia EXACT — each
    point sits 50000 grid units from its centroid in both dims."""
    from akka_graph_db_spark.functions import similarity

    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),
            (2, [10.0, 10.0]),
            (3, [0.1, 0.1]),
            (4, [9.9, 9.9]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    assigned, cents = similarity.kmeans_quantized(
        emb, k=2, n_iter=3, grid=1_000_000
    )
    rows = assigned.collect()
    clusters = {}
    for r in rows:
        clusters.setdefault(r["cluster"], set()).add(r["vec_id"])
    assert clusters == {0: {1, 3}, 1: {2, 4}}
    # centroid of {(0,0), (100000,100000)} grid pts = (50000, 50000)
    assert cents[0] == [50_000, 50_000]
    assert cents[1] == [9_950_000, 9_950_000]
    d2 = {r["vec_id"]: r["d2"] for r in rows}
    assert all(v == 2 * 50_000**2 for v in d2.values())


def test_semantic_prune_within_cluster_only(spark):
    """Prune drops the HIGHER id of a within-cluster near-dup pair and
    never reaches across clusters: (1,3) are near-identical directions
    in cluster A (cos ≈ 1 ≥ 0.45 → 3 pruned), (2,4) sit in cluster B at
    cos = 0 (orthogonal, < 0.45 → both kept) even though 4 is also
    orthogonal to 1 and 3 — different cluster, never compared."""
    from akka_graph_db_spark.functions import similarity

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 10.0, 0.0]),
            (3, [1.001, 0.0, 0.0]),
            (4, [0.0, 0.0, 10.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    kept = sorted(
        r["vec_id"]
        for r in similarity.semantic_prune(
            emb, k=2, n_iter=2, threshold_num=9, threshold_den=20
        ).collect()
    )
    assert kept == [1, 2, 4]


def test_semantic_prune_threshold_validation(spark):
    from akka_graph_db_spark.functions import similarity

    import pytest as _pytest

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<float>"
    )
    with _pytest.raises(ValueError):
        similarity.semantic_prune(emb, threshold_num=0)
    with _pytest.raises(ValueError):
        similarity.semantic_prune(emb, threshold_num=3, threshold_den=2)


def test_keep_multi_equals_per_policy_singles(spark):
    """minhash_dedup_keep_multi must reproduce EXACTLY the survivor set
    of a standalone minhash_dedup_keep run per policy — one clustering,
    N argmaxes, same answers (including exact-dup groups where the
    policy-chosen representative differs from the min-id one)."""
    from akka_graph_db_spark.functions import dedup

    t1 = "a b c d e f g h i j"
    rows = [
        (1, t1, 5, "src5"),
        (2, t1 + " k", 9, "src3"),   # near-dup of 1/4
        (3, "zz yy xx ww", 2, "src9"),
        (4, t1, 7, "src1"),          # exact dup of 1, higher score
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, n_chars int, source string"
    ).withColumn(
        "_prio",
        -F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("int"),
    )
    multi = {}
    for r in dedup.minhash_dedup_keep_multi(
        df,
        policies={"best": "n_chars", "src": "_prio", "min_id": None},
        threshold=0.9, num_perm=32, bands=32, shingle_n=1,
    ).collect():
        multi.setdefault(r["policy"], set()).add(r["doc_id"])
    for name, kw in (
        ("best", dict(keep="max_score", score_col="n_chars")),
        ("src", dict(keep="max_score", score_col="_prio")),
        ("min_id", dict(keep="min_id")),
    ):
        single = {
            r["doc_id"]
            for r in dedup.minhash_dedup_keep(
                df, threshold=0.9, num_perm=32, bands=32, shingle_n=1,
                linkage="pairs", **kw,
            ).collect()
        }
        assert multi[name] == single, name
    assert multi["best"] == {2, 3}      # longest member wins
    assert multi["src"] == {3, 4}       # src1 beats src3/src5
    assert multi["min_id"] == {1, 3}


def test_minhash_keep_source_priority_exact_dup(spark):
    """Exact duplicates in DIFFERENT sources: the exact-dup group is
    represented by its min id but carries its own score argmax, so the
    PREFERRED source's copy must survive even though the other has the
    lower doc_id (a collapse that kept only the min id would drop it
    before scores were consulted)."""
    from akka_graph_db_spark.functions import dedup

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, text, "src5"),
            (2, text, "src1"),
            (3, "totally different words here now", "src9"),
        ],
        "doc_id bigint, text string, source string",
    ).withColumn(
        "_prio",
        -F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("int"),
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.minhash_dedup_keep(
            docs, threshold=0.9, linkage="pairs",
            keep="max_score", score_col="_prio",
        ).collect()
    )
    assert kept == [2, 3]


def test_cdc_chunks_shared_after_insertion(spark):
    """The CDC property: prepending words to a document shifts every
    byte offset but leaves the content-defined boundaries of the shared
    suffix intact — most chunk hashes survive the edit (a fixed-width
    chunker would share almost none). Also pins the span invariants."""
    from akka_graph_db_spark.functions import text as textf

    base_words = [f"tok{(i * 37) % 101}" for i in range(300)]
    doc_a = " ".join(base_words)
    doc_b = " ".join(["inserted", "prefix", "words"] + base_words)
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id bigint, text string"
    )
    rows = textf.cdc_chunks(docs, window=3, mask_bits=4).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, n_expected in ((1, 300), (2, 303)):
        spans = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        assert sum(r["n_words"] for r in spans) == n_expected
        pos = 1
        for s in spans:
            assert s["start_word"] == pos
            pos += s["n_words"]
    hashes_a = {r["chunk_hash"] for r in by_doc[1]}
    hashes_b = {r["chunk_hash"] for r in by_doc[2]}
    shared = hashes_a & hashes_b
    assert len(shared) >= len(hashes_a) * 0.6


def test_mixture_frequency_damped_sample(spark):
    """Big source capped at floor(4*sqrt(100)) = 40; tiny source (5 <
    min_keep) kept whole; selection is hash-deterministic (same rows
    across calls and partitionings)."""
    from akka_graph_db_spark.functions import mixture

    rows = [(i, "big") for i in range(100)] + [
        (1000 + i, "tiny") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    got = mixture.frequency_damped_sample(
        df, coeff=4.0, min_keep=10
    )
    by_src = {}
    for r in got.collect():
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src["big"]) == 40
    assert by_src["tiny"] == {1000 + i for i in range(5)}
    again = mixture.frequency_damped_sample(
        df.repartition(7), coeff=4.0, min_keep=10
    )
    by_src2 = {}
    for r in again.collect():
        by_src2.setdefault(r["source"], set()).add(r["doc_id"])
    assert by_src == by_src2


def test_mixture_weights_quota_math(spark):
    """quota = least(n, greatest(min_keep, floor(coeff*sqrt(n)))) and
    keep_rate = quota/n, computed per source."""
    from akka_graph_db_spark.functions import mixture

    rows = [(i, "a", 10) for i in range(64)] + [(200, "b", 7)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, n_chars bigint"
    )
    w = {
        r["source"]: r
        for r in mixture.mixture_weights(
            df, coeff=2.0, min_keep=3
        ).collect()
    }
    assert w["a"]["quota"] == 16  # floor(2*sqrt(64))
    assert w["a"]["n_docs"] == 64 and w["a"]["total_chars"] == 640
    assert w["a"]["keep_rate"] == 16 / 64
    assert w["b"]["quota"] == 1  # least(n=1, greatest(3, 2)) = 1
    assert w["b"]["keep_rate"] == 1.0


def test_token_rarity_stats(spark):
    """Doc 1 = all common tokens, doc 2 = half hapax: corpus freqs are
    exact integers, ratios exact rationals."""
    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the zzqq1")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r for r in textf.token_rarity_stats(df).collect()
    }
    # freqs: the=2, cat=1, sat=1, zzqq1=1
    assert got[1]["n_tokens"] == 3
    assert got[1]["mean_tok_freq"] == (2 + 1 + 1) / 3
    assert got[1]["rare_ratio"] == 2 / 3
    assert got[2]["rare_ratio"] == 1 / 2  # 'the' freq 2, 'zzqq1' hapax


def test_minhash_dedup_cross(spark):
    """Incoming docs flagged iff near-dup to a BASE doc: doc 11 dups
    base doc 1, doc 12 is novel; base-base and new-new pairs never
    appear (asymmetric join)."""
    base = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different text about spark engines"),
        ],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog"),
            (12, "unrelated incoming content entirely fresh words"),
        ],
        "doc_id bigint, text string",
    )
    got = dedup.minhash_dedup_cross(
        new, base, threshold=0.9, shingle_n=1
    ).collect()
    assert {(r["new_id"], r["base_id"]) for r in got} == {(11, 1)}
    assert got[0]["jaccard_sim"] == 1.0


def test_label_centroid_outliers(spark):
    """Label 1: three vectors, one far off — centroid is the exact
    integer mean and the far vector wins; closed-form distances."""
    rows = [
        (1, [0.0, 0.0], 1),
        (2, [0.0, 0.002], 1),
        (3, [1.0, 1.0], 1),
        (4, [5.0, 5.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = similarity.label_centroid_outliers(df, top_k=2).collect()
    # grid 1e6: label-1 coords (0,0),(0,2000),(1e6,1e6);
    # centroid = (333333, 334000); d2(v3) = 666667^2 + 666000^2
    assert got[0]["vec_id"] == 3
    assert got[0]["d2"] == 666667**2 + 666000**2
    # label 2 is its own centroid -> d2 = 0, never in top-2 over v1/v2
    assert {r["vec_id"] for r in got} <= {1, 2, 3}


def test_orc_roundtrip_byte_fidelity(spark, tmp_path):
    """ORC round-trip preserves types and values exactly, including
    maps and arrays; pushdown predicates work on the re-read frame."""
    from akka_graph_db_spark.sources import files as fsrc

    df = spark.createDataFrame(
        [
            (1, "alpha", 3.5, ["x", "y"], {"k": "v"}),
            (2, "beta", -0.25, [], {}),
        ],
        "id bigint, name string, score double, tags array<string>,"
        " props map<string,string>",
    )
    path = str(tmp_path / "orc_rt")
    fsrc.write_orc(df, path)
    back = fsrc.read_orc(spark, path)
    assert back.schema == df.schema
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["tags"] == ["x", "y"] and rows[1]["props"] == {"k": "v"}
    assert rows[2]["score"] == -0.25 and rows[2]["tags"] == []
    assert back.where("id = 2").count() == 1


def test_skew_report_identifies_hot_key(spark):
    """90 rows of key 'hot' + 10 singletons: the hot key leads with
    share 0.9 and x_uniform = 0.9 * 11 keys = 9.9 exactly."""
    from akka_graph_db_spark.functions import skew

    rows = [("hot", i) for i in range(90)] + [
        (f"k{i}", i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k string, v int")
    top = skew.skew_report(df, ["k"], top_k=3).collect()
    assert top[0]["k"] == "hot" and top[0]["n_rows"] == 90
    assert top[0]["share"] == 0.9
    assert abs(top[0]["x_uniform"] - 9.9) < 1e-12
    assert all(r["n_rows"] == 1 for r in top[1:])


def test_zorder_key_interleaves_and_localizes(spark):
    """Closed-form Morton values plus the quadrant property: every key
    in the low 2x2 quadrant sorts before any key with a coordinate
    >= 2."""
    from akka_graph_db_spark.functions.zorder import zorder_key

    pts = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(pts, "x int, y int")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key("x", "y").alias("z")
        ).collect()
    }
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1
    assert got[(0, 1)] == 2 and got[(1, 1)] == 3
    assert got[(2, 0)] == 4 and got[(3, 3)] == 15
    low = {got[(x, y)] for x in (0, 1) for y in (0, 1)}
    rest = {v for (x, y), v in got.items() if x > 1 or y > 1}
    assert max(low) < min(rest)


# --------------------------------------------------------------------------
# Winnowing fingerprints
# --------------------------------------------------------------------------

def _md5_63_py(s: str) -> int:
    """Python replica of hashing.md5_63 (little-endian first 8 MD5 bytes,
    sign bit masked)."""
    d = hashlib.md5(s.encode()).digest()
    return int.from_bytes(d[:8], "little") & ((1 << 63) - 1)


def _winnow_py(text: str, k: int = 4, w: int = 5) -> set:
    toks = [t for t in text.lower().split() if t]
    if len(toks) >= k:
        sh = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    else:
        sh = [" ".join(toks)]
    hs = [_md5_63_py(s) for s in sh]
    m = len(hs)
    return {
        min(hs[max(0, p - w + 1) : p + 1])
        for p in range(m)
        if p >= w - 1 or p == m - 1
    }


def test_winnow_fingerprints_matches_reference_replica(docs):
    got = {}
    for r in textf.winnow_fingerprints(
        docs, k=4, w=5, hash_family="md5"
    ).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    want = {
        r["doc_id"]: _winnow_py(r["text"])
        for r in docs.select("doc_id", "text").collect()
    }
    assert got == want


def test_winnow_shared_run_yields_shared_fingerprint(spark):
    # Winnowing guarantee: any shared token run of >= w + k - 1 tokens
    # produces at least one shared fingerprint — here docs differ at both
    # ends but share a 12-token middle run (k=4, w=5 -> guarantee at 8).
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    df = spark.createDataFrame(
        [(1, "x1 y1 " + shared + " z1"), (2, "x2 " + shared + " z2 w2")],
        "doc_id bigint, text string",
    )
    pairs = textf.winnow_pairs(
        df, k=4, w=5, min_shared=1, hash_family="md5"
    ).collect()
    assert len(pairs) == 1 and pairs[0]["n_shared"] >= 1


def test_winnow_pairs_max_postings_drops_stop_fingerprints(spark):
    # Every doc shares the same 4 tokens -> its fingerprint appears in
    # all 3 docs; max_postings=2 removes it, leaving no qualifying pair.
    df = spark.createDataFrame(
        [(i, "common run of words") for i in range(1, 4)],
        "doc_id bigint, text string",
    )
    with_cap = textf.winnow_pairs(
        df, k=4, w=5, min_shared=1, max_postings=2, hash_family="md5"
    ).count()
    without = textf.winnow_pairs(
        df, k=4, w=5, min_shared=1, hash_family="md5"
    ).count()
    assert with_cap == 0 and without == 3


# --------------------------------------------------------------------------
# n-gram diversity
# --------------------------------------------------------------------------

def test_ngram_diversity_exact_small_case(spark):
    df = spark.createDataFrame(
        [(1, "a a b", "en"), (2, "a a", "en"), (3, "x", "fr")],
        "doc_id bigint, text string, lang string",
    )
    rows = {
        (r["lang"], r["n"]): (
            r["total_ngrams"], r["distinct_ngrams"], r["diversity"]
        )
        for r in textf.ngram_diversity(df, ns=(1, 2, 3)).collect()
    }
    # en unigrams: a a b a a -> 5 total, 2 distinct
    assert rows[("en", 1)] == (5, 2, 0.4)
    # en bigrams: 'a a','a b' + 'a a' -> 3 total, 2 distinct
    assert rows[("en", 2)] == (3, 2, round(2 / 3, 6))
    # en trigrams: only doc 1 -> 'a a b'
    assert rows[("en", 3)] == (1, 1, 1.0)
    # fr has a single 1-token doc: no bigrams/trigrams rows
    assert rows[("fr", 1)] == (1, 1, 1.0)
    assert ("fr", 2) not in rows and ("fr", 3) not in rows


# --------------------------------------------------------------------------
# Blocklist
# --------------------------------------------------------------------------

def test_blocklist_filter_token_exact(spark):
    df = spark.createDataFrame(
        [(1, "clean text here"), (2, "contains BadWord now"),
         (3, "badwordish but not exact")],
        "doc_id bigint, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in textf.blocklist_filter(df, ["badword"]).collect()
    )
    # case-insensitive token match; NO substring match on doc 3
    assert kept == [1, 3]


def test_blocklist_report_includes_zero_rows(docs):
    rep = {
        r["term"]: r["n_docs"]
        for r in textf.blocklist_report(
            docs, ["fox", "zz_missing"]
        ).collect()
    }
    assert rep == {"fox": 4, "zz_missing": 0}  # docs 1, 2, 3, 6


# --------------------------------------------------------------------------
# Column profiling
# --------------------------------------------------------------------------

def test_profile_columns_exact(spark):
    from akka_graph_db_spark.functions.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")],
        "k bigint, v string",
    )
    rows = {
        r["column"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
        for r in profile_columns(df).collect()
    }
    assert rows == {"k": (4, 1, 2), "v": (4, 1, 2)}
    with pytest.raises(ValueError):
        profile_columns(df, ["nope"])


def test_containment_join_finds_asymmetric_subsets(spark):
    """Containment catches what Jaccard structurally misses: a short doc
    fully quoted inside a long one (C = 1.0, J = 0.3), and the prefix
    filter is LOSSLESS — the join equals brute-force containment over
    all ordered pairs, including a pair at exactly the threshold."""
    rows = [
        (1, "alpha beta gamma"),
        # doc 1 ⊂ doc 2: C(1→2) = 1.0, J = 3/10
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # {alpha beta nu}: C(3→2) = 2/3 < 0.9 -> excluded at t=0.9
        (3, "alpha beta nu"),
        # |S|=10, 9 of them in doc 2: C(4→2) = 9/10 = 0.9 EXACTLY
        (4, "alpha beta gamma delta epsilon zeta eta theta iota MISS"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r["a_id"], r["b_id"], r["n_a"], r["n_common"])
        for r in dedup.containment_join(df, threshold=0.9).collect()
    )
    # 1⊂2 and 1⊂4 (C=1.0, J=0.3); 2↔4 differ in one token (C=0.9 both
    # ways, exactly at threshold); 3 excluded (C=2/3)
    assert got == [(1, 2, 3, 3), (1, 4, 3, 3), (2, 4, 10, 9), (4, 2, 10, 9)]
    # brute-force equality at a lower threshold (more pairs, both
    # directions possible)
    toks = {r[0]: set(r[1].split()) for r in rows}
    want = sorted(
        (a, b, len(toks[a]), len(toks[a] & toks[b]))
        for a in toks
        for b in toks
        if a != b and len(toks[a] & toks[b]) / len(toks[a]) >= 0.5
    )
    got_lo = sorted(
        (r["a_id"], r["b_id"], r["n_a"], r["n_common"])
        for r in dedup.containment_join(df, threshold=0.5).collect()
    )
    assert got_lo == want


def test_containment_join_max_posting_drops_stop_shingles(spark):
    """The lossy scale knob: with max_posting=1 every shared token is a
    stop-shingle, so no candidates survive; default (None) finds the
    pair."""
    rows = [(1, "x y"), (2, "x y z")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert dedup.containment_join(df, threshold=0.9).count() == 1
    assert (
        dedup.containment_join(df, threshold=0.9, max_posting=1).count()
        == 0
    )


def test_distinctive_terms_rank_order(spark):
    """(tf DESC, df ASC, term ASC) rank: within a doc a more-frequent
    term always wins; at equal tf the corpus-rarer term wins; stop-term
    cap drops ubiquitous terms before ranking."""
    rows = [
        (1, "apple apple banana common"),
        (2, "banana banana cherry common"),
        (3, "common cherry"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["id"], r["rank"]): (r["term"], r["tf"], r["df"])
        for r in search.distinctive_terms(df, k=2).collect()
    }
    # doc 1: apple tf=2 first; banana (df=2) beats common (df=3) at tf=1
    assert got[(1, 1)] == ("apple", 2, 1)
    assert got[(1, 2)] == ("banana", 1, 2)
    # doc 3: at tf=1 everywhere, cherry (df=2) beats common (df=3)
    assert got[(3, 1)] == ("cherry", 1, 2)
    # stop-term cap: common (df=3) excluded entirely
    capped = search.distinctive_terms(df, k=5, max_doc_frequency=2)
    assert "common" not in {r["term"] for r in capped.collect()}


def test_vocab_growth_curve(spark):
    """Cumulative tokens/types per id bucket: types count at FIRST
    occurrence only; final cum_types equals the corpus vocabulary."""
    rows = [
        (0, "a b a"),      # bucket 0: 3 toks, types {a, b}
        (1, "b c"),        # bucket 0: 2 toks, new type {c}
        (10, "c d d d"),   # bucket 1: 4 toks, new type {d}
        (20, "a b"),       # bucket 2: 2 toks, no new types
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r["bucket"], r["cum_tokens"], r["cum_types"])
        for r in search.vocab_growth(df, step=10).collect()
    )
    assert got == [(0, 5, 3), (1, 9, 4), (2, 11, 4)]


def test_quantile_filter_exact_rank_threshold(spark):
    """The p75 cut is rank-based ceil(q*n): with n=4 values per group
    the threshold is the 3rd smallest (ceil(3.0) — the integer-divisible
    case where float arithmetic would off-by-one to the 4th)."""
    rows = [
        (1, "s1", 10), (2, "s1", 20), (3, "s1", 30), (4, "s1", 40),
        (5, "s2", 100), (6, "s2", 200), (7, "s2", 300),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string,"
                               " n_chars bigint")
    kept = sorted(
        r["doc_id"]
        for r in textf.quantile_filter(df, q=0.75).collect()
    )
    # s1: ceil(0.75*4)=3 -> threshold 30 -> keep 30, 40
    # s2: ceil(0.75*3)=3 -> threshold 300 -> keep 300
    assert kept == [3, 4, 7]
    with pytest.raises(ValueError):
        textf.quantile_filter(df, q=1.5)


def test_containment_prune_dominance(spark):
    """Subset pruning keeps maximal docs: strict subsets vanish, equal
    sets keep the smaller id, chains remove every dominated layer."""
    rows = [
        (1, "a b c"),                  # ⊂ 2 -> pruned
        (2, "a b c d e"),              # ⊂ 3 (5/5 of its set) -> pruned
        (3, "a b c d e f g"),          # maximal -> kept
        (4, "x y z"),                  # unrelated -> kept
        (5, "z y x"),                  # equal set as 4, larger id -> pruned
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kept = sorted(
        r["doc_id"]
        for r in dedup.containment_prune(df, threshold=0.9).collect()
    )
    assert kept == [3, 4]


def test_doc_novelty_first_occurrence(spark):
    """Novelty counts a shingle only in its FIRST document (by id): a
    full repeat scores 0 novel; partial overlap scores the new tail."""
    rows = [
        (1, "a b c d"),    # shingles {abc, bcd} both novel
        (2, "a b c d"),    # identical -> 0 novel
        (3, "b c d e"),    # {bcd, cde}: bcd seen in doc 1 -> 1 novel
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["id"]: (r["n_shingles"], r["n_novel"])
        for r in textf.doc_novelty(df, shingle_n=3).collect()
    }
    assert got == {1: (2, 2), 2: (2, 0), 3: (2, 1)}


def test_hll_grouped_matches_global_per_group(spark):
    """Grouped registers equal per-group global sketches; estimates are
    within raw-HLL error of exact small-cardinality counts."""
    rows = [(i % 3, i % 50) for i in range(300)]
    df = spark.createDataFrame(rows, "g int, v int")
    grouped = {
        (r["g"], r["bucket"]): r["register"]
        for r in search.hll_sketch_grouped(
            df, "v", group_cols=("g",), p=6
        ).collect()
    }
    for g in (0, 1, 2):
        solo = {
            r["bucket"]: r["register"]
            for r in search.hll_sketch(
                df.where(F.col("g") == g), "v", p=6
            ).collect()
        }
        assert {b: v for (gg, b), v in grouped.items() if gg == g} == solo
    est = {
        r["g"]: r["hll_estimate"]
        for r in search.hll_estimate_grouped(
            search.hll_sketch_grouped(df, "v", group_cols=("g",), p=6),
            group_cols=("g",),
            p=6,
        ).collect()
    }
    assert set(est) == {0, 1, 2} and all(v > 0 for v in est.values())


def test_asof_forward_inclusive_and_tolerance(spark):
    """Forward as-of: smallest right ts >= left ts, inclusive at equal
    timestamps, NULL when nothing follows, tolerance nulls far matches."""
    from datetime import datetime

    from akka_graph_db_spark.functions import asof

    T = datetime
    left = spark.createDataFrame(
        [(1, T(2024, 1, 1, 10), 5), (2, T(2024, 1, 1, 12), 5),
         (3, T(2024, 1, 1, 23), 5)],
        "event_id bigint, ts timestamp, user_id bigint",
    )
    right = spark.createDataFrame(
        [(T(2024, 1, 1, 10), 5, 100), (T(2024, 1, 1, 13), 5, 200)],
        "ts timestamp, user_id bigint, rid bigint",
    )
    j = {
        r["event_id"]: r["rid_next"]
        for r in asof.asof_join_forward(
            left, right, "ts", ["user_id"], ["rid"], suffix="_next"
        ).collect()
    }
    assert j == {1: 100, 2: 200, 3: None}  # 1 matches EQUAL ts (inclusive)
    jt = {
        r["event_id"]: r["rid_next"]
        for r in asof.asof_join_forward(
            left, right, "ts", ["user_id"], ["rid"],
            suffix="_next", tolerance_seconds=1800,
        ).collect()
    }
    assert jt == {1: 100, 2: None, 3: None}  # 13:00 is >30min after 12:00


def test_rate_features_range_frame(spark):
    """n_prev counts strictly-earlier same-key events within the window
    (exclusive of equal timestamps); gap_us NULL on a key's first."""
    from datetime import datetime

    from akka_graph_db_spark.functions import events as ev

    T = datetime
    rows = [
        (1, T(2024, 1, 1, 10, 0), 7),
        (2, T(2024, 1, 1, 10, 30), 7),
        (3, T(2024, 1, 1, 11, 15), 7),   # 10:30 in window, 10:00 is not
        (4, T(2024, 1, 1, 11, 15), 7),   # equal ts -> excluded from frame
        (5, T(2024, 1, 1, 9, 0), 8),     # other user
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint"
    )
    got = {
        r["event_id"]: (r["n_prev"], r["gap_us"])
        for r in ev.rate_features(df, window_seconds=3600).collect()
    }
    assert got[1] == (0, None)
    assert got[2] == (1, 30 * 60 * 1_000_000)
    assert got[3] == (1, 45 * 60 * 1_000_000)   # only 10:30 in (10:15,11:15)
    assert got[4] == (1, 0)                     # same frame; gap to id 3
    assert got[5] == (0, None)


def test_quantile_filter_null_group_kept(spark):
    """A NULL group is a real group: its rows pass through the null-safe
    threshold join instead of being dropped by null != null."""
    rows = [
        (1, None, 10), (2, None, 20),
        (3, "s1", 10), (4, "s1", 20),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string,"
                               " n_chars bigint")
    kept = sorted(
        r["doc_id"] for r in textf.quantile_filter(df, q=0.5).collect()
    )
    # ceil(0.5*2)=1 -> threshold = 10 per group -> everything kept
    assert kept == [1, 2, 3, 4]


def test_corpus_diff_statuses(spark):
    """Full status matrix: only-old -> removed, only-new -> added, same
    content -> unchanged, different content -> changed."""
    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "did change"), (4, "fresh")],
        "doc_id bigint, text string",
    )
    got = {
        r["id"]: r["status"]
        for r in textf.corpus_diff(old, new).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_source_overlap_exact_intersections(spark):
    """Pairwise distinct-shingle intersections: exact counts, a < b
    ordering, zero-overlap pairs absent."""
    rows = [
        (1, "a b c d", "s1"),   # shingles {abc, bcd}
        (2, "b c d e", "s2"),   # {bcd, cde} -> s1 n s2 = {bcd}
        (3, "x y z w", "s3"),   # disjoint
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )
    got = {
        (r["a"], r["b"]): (r["n_a"], r["n_b"], r["n_common"])
        for r in textf.source_overlap(df, shingle_n=3).collect()
    }
    assert got == {("s1", "s2"): (2, 2, 1)}  # s3 pairs absent (0 overlap)


# --- Bloom filter join pruning (functions/bloom.py) ---


def test_bloom_no_false_negatives(spark):
    from akka_graph_db_spark.functions import bloom

    build = spark.createDataFrame(
        [(i,) for i in range(0, 200, 2)], "k bigint"  # evens
    )
    probe = spark.createDataFrame([(i,) for i in range(200)], "k bigint")
    bits = bloom.bloom_build(build, "k", m_bits=256, k=3)
    passed = {r["k"] for r in bloom.bloom_prune(probe, "k", bits, 256, 3).collect()}
    # every true member passes, whatever the FP rate does
    assert set(range(0, 200, 2)) <= passed



def test_bloom_build_bounded_by_m(spark):
    from akka_graph_db_spark.functions import bloom

    build = spark.createDataFrame([(i,) for i in range(10_000)], "k bigint")
    bits = bloom.bloom_build(build, "k", m_bits=64, k=4)
    rows = [r["pos"] for r in bits.collect()]
    assert len(rows) == len(set(rows)) <= 64
    assert all(0 <= p < 64 for p in rows)


def test_bloom_prune_preserves_row_shape(spark):
    from akka_graph_db_spark.functions import bloom

    build = spark.createDataFrame([(7,)], "k bigint")
    probe = spark.createDataFrame(
        [(7, "hit", 1.5), (7, "hit2", 2.5)], "k bigint, s string, x double"
    )
    bits = bloom.bloom_build(build, "k", m_bits=512, k=3)
    out = bloom.bloom_prune(probe, "k", bits, 512, 3)
    assert out.columns == ["k", "s", "x"]  # helper columns dropped
    assert out.count() == 2  # duplicates of a passing key all survive


def test_ordered_triples_hand_computed(spark):
    from datetime import datetime

    from akka_graph_db_spark.functions import events as ev

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # user 1: clicks @1,@2; view @5; purchase @10 -> 2 triples
        (1, t(1), "click"), (1, t(2), "click"),
        (1, t(5), "view"), (1, t(10), "purchase"),
        # user 2: span exactly == window (strict) -> excluded;
        # equal-ts view==click -> not strictly after
        (2, t(0), "click"), (2, t(0), "view"),
        (2, t(3), "view"), (2, t(20), "purchase"),
        # user 3: purchase before view -> no triple
        (3, t(1), "click"), (3, t(2), "purchase"), (3, t(3), "view"),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string"
    )
    got = {
        r["user_id"]: r["n_triples"]
        for r in ev.ordered_triples(df, window_seconds=20).collect()
    }
    # user 2: click@0 view@3 purchase@20 spans exactly 20 -> excluded
    assert got == {1: 2}
    # widen by one second: user 2's triple now fits
    got = {
        r["user_id"]: r["n_triples"]
        for r in ev.ordered_triples(df, window_seconds=21).collect()
    }
    assert got == {1: 2, 2: 1}


def test_ordered_triples_matches_naive(spark):
    # randomized cross-check against the cubic definition
    import random

    from akka_graph_db_spark.functions import events as ev

    rng = random.Random(8)
    rows = []
    for u in range(6):
        for _ in range(30):
            rows.append(
                (
                    u,
                    rng.randrange(0, 5000),
                    rng.choice(["click", "view", "purchase"]),
                )
            )
    naive = {}
    for u, ts1, e1 in rows:
        if e1 != "click":
            continue
        for u2, ts2, e2 in rows:
            if u2 != u or e2 != "view" or not ts1 < ts2:
                continue
            for u3, ts3, e3 in rows:
                if (
                    u3 == u and e3 == "purchase" and ts2 < ts3
                    and ts3 - ts1 < 600
                ):
                    naive[u] = naive.get(u, 0) + 1
    df = spark.createDataFrame(
        [(u, s, e) for u, s, e in rows],
        "user_id bigint, sec bigint, event_type string",
    ).select(
        "user_id", F.timestamp_seconds("sec").alias("ts"), "event_type"
    )
    got = {
        r["user_id"]: r["n_triples"]
        for r in ev.ordered_triples(df, window_seconds=600).collect()
    }
    assert got == naive


def test_drift_tvd_hand_computed(spark):
    from akka_graph_db_spark.functions import profile

    # group A: values 0,0,100 -> bins {0:2, 1:1}; group B: 0,100,100,100
    # -> bins {0:1, 1:3}.  N_a=3, N_b=4.
    # TVD(A vs rest=B) over bins: |2/3-1/4| + |1/3-3/4| = 5/12+5/12 -> /2
    # = 5/12.  Exact integers: num = |2*4-1*3| + |1*4-3*3| = 5+5 = 10,
    # tvd = 10/(2*3*4) = 0.416667.
    df = spark.createDataFrame(
        [("a", 0), ("a", 0), ("a", 100), ("b", 0), ("b", 100),
         ("b", 100), ("b", 100)],
        "src string, v bigint",
    )
    got = {
        r["src"]: r
        for r in profile.drift_tvd(df, "src", "v", 100).collect()
    }
    assert got["a"]["tvd_num"] == 10 and got["b"]["tvd_num"] == 10
    assert got["a"]["n_group"] == 3 and got["a"]["n_rest"] == 4
    assert abs(got["a"]["tvd"] - round(10 / 24, 6)) < 1e-9
    # zero-count bin charged: group c only in bin 9, groups a/b never
    df2 = df.unionByName(
        spark.createDataFrame([("c", 900)], "src string, v bigint")
    )
    row_c = {
        r["src"]: r for r in profile.drift_tvd(df2, "src", "v", 100).collect()
    }["c"]
    # c vs rest: bins {0: (0,3), 1: (0,4), 9: (1,0)} ->
    # num = |0*7-3*1| + |0*7-4*1| + |1*7-0*1| = 3+4+7 = 14; den = 2*1*7
    assert row_c["tvd_num"] == 14
    assert abs(row_c["tvd"] - 1.0) < 1e-9  # disjoint supports -> TVD 1


def test_drift_tvd_identical_distributions_zero(spark):
    from akka_graph_db_spark.functions import profile

    df = spark.createDataFrame(
        [("a", v) for v in (1, 2, 3)] + [("b", v) for v in (1, 2, 3)],
        "src string, v bigint",
    )
    for r in profile.drift_tvd(df, "src", "v", 1).collect():
        assert r["tvd_num"] == 0 and r["tvd"] == 0.0


def test_lexical_diversity_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # n=4, tf={a:4}: num=16-16=0, simpson 0
            (2, "a b c d"),          # n=4, all 1s: num=16-4=12, 12/16=0.75
            (3, "a a b b"),          # n=4, tf 2,2: num=16-8=8 -> 0.5
            (4, ""),                 # no tokens -> dropped
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in textf.lexical_diversity(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["simpson_num"] == 0 and got[1]["simpson"] == 0.0
    assert got[2]["simpson_num"] == 12 and got[2]["simpson"] == 0.75
    assert got[3]["simpson_num"] == 8 and got[3]["simpson"] == 0.5
    assert got[2]["n_tokens"] == 4 and got[2]["n_distinct"] == 4


def test_knn_graph_planted_geometry(spark):
    from akka_graph_db_spark.functions import similarity

    # 0/1 point in +x, 2/3 in +y, 10 alone in +z: each pair is mutually
    # nearest; the z outlier's neighbors are whoever ties best (cos 0 to
    # everyone -> lowest ids win the tie-break)
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.1, 0.9, 0.0]),
        (10, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {
        (r["a"], r["rank"]): r["b"]
        for r in similarity.knn_graph(df, k=1).collect()
    }
    assert got[(0, 1)] == 1 and got[(1, 1)] == 0
    assert got[(2, 1)] == 3 and got[(3, 1)] == 2
    assert got[(10, 1)] == 0  # all-tie at cos 0 -> lowest id
    # self never appears even at k up to n-1
    all_edges = similarity.knn_graph(df, k=4).collect()
    assert all(r["a"] != r["b"] for r in all_edges)
    assert len(all_edges) == 5 * 4


def test_knn_graph_matches_topk_bruteforce(spark):
    import random

    from akka_graph_db_spark.functions import similarity

    rng = random.Random(42)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    fast = sorted(
        (r["a"], r["rank"], r["b"])
        for r in similarity.knn_graph(df, k=3).collect()
    )
    slow = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(df, df, k=3).collect()
    )
    assert fast == slow


def test_knn_graph_max_rows_gate(spark):
    import pytest as _pytest

    from akka_graph_db_spark.functions import similarity

    df = spark.createDataFrame(
        [(i, [1.0]) for i in range(10)], "vec_id bigint, embedding array<float>"
    )
    with _pytest.raises(ValueError):
        similarity.knn_graph(df, k=1, max_rows=5)


def test_bm25_topk_multi_matches_single(spark, docs):
    from akka_graph_db_spark.functions import search

    single = sorted(
        (r["doc_id"], r["score"])
        for r in search.bm25_topk(docs, ["spark", "join"], k=5).collect()
    )
    q = spark.createDataFrame(
        [(7, "spark"), (7, "join")], "query_id bigint, term string"
    )
    multi = sorted(
        (r["doc_id"], r["score"])
        for r in search.bm25_topk_multi(docs, q, k=5).collect()
    )
    assert multi == single


def test_retrieval_eval_hand_computed(spark):
    from akka_graph_db_spark.functions import search

    ranked = spark.createDataFrame(
        # q1: relevant at ranks 2 and 5; q2: nothing relevant retrieved
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4), (1, 14, 5),
         (2, 20, 1), (2, 21, 2)],
        "query_id bigint, doc_id bigint, rank int",
    )
    rel = spark.createDataFrame(
        [(1, 11), (1, 14), (1, 99), (2, 77), (3, 1)],
        "query_id bigint, doc_id bigint",
    )
    got = {r["query_id"]: r for r in
           search.retrieval_eval(ranked, rel, k=5).collect()}
    # only queries present in `ranked` are graded
    assert set(got) == {1, 2}
    assert got[1]["first_rel_rank"] == 2
    assert abs(got[1]["rr"] - 0.5) < 1e-9
    assert got[1]["n_rel_in_topk"] == 2 and got[1]["n_rel_total"] == 3
    assert abs(got[1]["recall_at_5"] - round(2 / 3, 6)) < 1e-9
    assert got[2]["first_rel_rank"] is None and got[2]["rr"] is None
    assert got[2]["n_rel_in_topk"] == 0 and got[2]["n_rel_total"] == 1
    assert got[2]["recall_at_5"] == 0.0


def test_concurrent_sessions_overlap_and_touching(spark):
    """Two overlapping sessions peak at 2; a session STARTING exactly
    when another ends does not overlap it (ends sort before starts at
    the same instant)."""
    from akka_graph_db_spark.functions import events as ev

    rows = [
        # user 10: session 00:00-00:05
        (1, "2024-01-01 00:00:00", 10),
        (2, "2024-01-01 00:05:00", 10),
        # user 20: session 00:03-00:08 (overlaps user 10's)
        (3, "2024-01-01 00:03:00", 20),
        (4, "2024-01-01 00:08:00", 20),
        # user 30: session starting exactly at user 20's end
        (5, "2024-01-01 00:08:00", 30),
        (6, "2024-01-01 00:09:00", 30),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, s string, user_id bigint"
    ).select("event_id", F.to_timestamp("s").alias("ts"), "user_id")
    out = ev.concurrent_sessions(df, gap_minutes=10).collect()
    assert len(out) == 1
    r = out[0]
    # peak 2 (users 10+20); user 30's start after 20's end never makes 2
    # concurrent again, and all 6 boundaries land in the single hour
    assert r["max_active"] == 2 and r["n_boundaries"] == 6


def test_session_paths_hand_computed(spark):
    """One 4-event session yields its two trigrams; a 2-event session
    yields none."""
    from akka_graph_db_spark.functions import events as ev

    rows = [
        (1, "2024-01-01 00:00:00", 10, "a"),
        (2, "2024-01-01 00:01:00", 10, "b"),
        (3, "2024-01-01 00:02:00", 10, "c"),
        (4, "2024-01-01 00:03:00", 10, "d"),
        (5, "2024-01-01 09:00:00", 20, "a"),
        (6, "2024-01-01 09:01:00", 20, "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, s string, user_id bigint, event_type string"
    ).select(
        "event_id", F.to_timestamp("s").alias("ts"), "user_id", "event_type"
    )
    got = {
        (r["t0"], r["t1"], r["t2"]): r["n_paths"]
        for r in ev.session_paths(df, gap_minutes=10).collect()
    }
    assert got == {("a", "b", "c"): 1, ("b", "c", "d"): 1}


def test_phrase_search_overlapping_occurrences(spark):
    """'a a a' contains 'a a' TWICE under positional semantics —
    replace-based substring counting would report one."""
    from akka_graph_db_spark.functions.search import phrase_search

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x a a y"), (3, "a b a")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_occurrences"], r["first_pos"])
        for r in phrase_search(docs, "a a").collect()
    }
    assert got == {1: (2, 0), 2: (1, 1)}


def test_phrase_search_trigram_and_case(spark):
    from akka_graph_db_spark.functions.search import phrase_search

    docs = spark.createDataFrame(
        [(1, "Big Order Scan now"), (2, "big scan order")],
        "doc_id bigint, text string",
    )
    got = phrase_search(docs, "big order scan").collect()
    assert [(r["doc_id"], r["n_occurrences"]) for r in got] == [(1, 1)]


def test_entity_linkage_blocking_and_length_filter(spark):
    """Pairs only form within a first-token block; the length filter is
    lossless for the distance bound; distance ordering is stable."""
    from akka_graph_db_spark.functions.linkage import entity_linkage

    recs = spark.createDataFrame(
        [
            (1, "cold widget"),
            (2, "cold widgets"),   # distance 1, same block
            (3, "cold bolts"),     # distance 5 to #1 -> rejected
            (4, "warm widget"),    # different block: never compared
            (5, "cold widget"),    # exact dup of #1
        ],
        "id bigint, name string",
    )
    got = [
        (r["id_a"], r["id_b"], r["distance"])
        for r in entity_linkage(recs, "id", "name", max_distance=2).collect()
    ]
    assert got == [(1, 5, 0), (1, 2, 1), (2, 5, 1)]


def test_rolling_active_users_window(spark):
    """User 1 active on day 1 and day 9; user 2 on day 3: trailing-7-day
    counts at the three active days."""
    from akka_graph_db_spark.functions.events import rolling_active_users

    ev_df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1),
            (2, "2024-01-03 10:00:00", 2),
            (3, "2024-01-09 10:00:00", 1),
        ],
        "event_id bigint, ts string, user_id bigint",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id")
    got = {
        str(r["day"]): r["active_users"]
        for r in rolling_active_users(ev_df, window_days=7).collect()
    }
    # day 1: {u1}; day 3: {u1,u2}; day 9: {u2(day3 is 6 back),u1}
    assert got == {"2024-01-01": 1, "2024-01-03": 2, "2024-01-09": 2}


def test_scd2_intervals_runs(spark):
    from akka_graph_db_spark.functions.events import scd2_intervals

    ev_df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, "a"),
            (2, "2024-01-01 00:01:00", 7, "a"),   # same run
            (3, "2024-01-01 00:02:00", 7, "b"),   # change
            (4, "2024-01-01 00:03:00", 7, "a"),   # change back
            (5, "2024-01-01 00:00:30", 8, "x"),   # second user
        ],
        "event_id bigint, ts string, user_id bigint, event_type string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type",
    )
    got = sorted(
        (r["user_id"], r["attr"], str(r["valid_from"]),
         str(r["valid_to"]), r["is_current"])
        for r in scd2_intervals(ev_df).collect()
    )
    assert got == [
        (7, "a", "2024-01-01 00:00:00", "2024-01-01 00:02:00", False),
        (7, "a", "2024-01-01 00:03:00", "None", True),
        (7, "b", "2024-01-01 00:02:00", "2024-01-01 00:03:00", False),
        (8, "x", "2024-01-01 00:00:30", "None", True),
    ]


def test_time_weighted_value_exact(spark):
    from akka_graph_db_spark.functions.events import time_weighted_value

    ev_df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, 2.50),
            (2, "2024-01-01 00:00:10", 7, 4.00),  # 2.5*10
            (3, "2024-01-01 00:00:30", 7, 1.00),  # + 4.0*20 = 105
            (4, "2024-01-01 00:00:00", 8, 9.99),  # single event
        ],
        "event_id bigint, ts string, user_id bigint, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "value"
    )
    got = {
        r["user_id"]: (
            r["twv_seconds"], r["span_seconds"], r["tw_avg"],
            r["n_events"],
        )
        for r in time_weighted_value(ev_df).collect()
    }
    assert got[7] == (105.0, 30, 3.5, 3)
    assert got[8] == (0.0, 0, None, 1)


def test_textrank_keywords_power_iteration(spark):
    """Replicate the recurrence in plain Python on a 3-word corpus and
    compare full rankings."""
    from akka_graph_db_spark.functions.search import textrank_keywords

    docs = spark.createDataFrame(
        [(1, "x y x y z"), (2, "y z")],
        "doc_id bigint, text string",
    )
    # co-occurrence counts: (x,y): x-y,y-x,x-y = 3; (y,z): y-z, y-z = 2
    w = {("x", "y"): 3.0, ("y", "z"): 2.0}
    nbrs = {
        "x": [("y", 3.0)],
        "y": [("x", 3.0), ("z", 2.0)],
        "z": [("y", 2.0)],
    }
    out_w = {u: sum(wt for _, wt in vs) for u, vs in nbrs.items()}
    rank = {u: 1.0 for u in nbrs}
    for _ in range(6):
        rank = {
            u: 0.15000000000000002
            + 0.85 * sum(rank[v] * wt / out_w[v] for v, wt in nbrs[u])
            for u in nbrs
        }
    got = {
        r["word"]: r["rank"]
        for r in textrank_keywords(docs, n_iter=6, top=10).collect()
    }
    assert got == {u: round(rank[u], 6) for u in nbrs}


def test_event_bursts_spike(spark):
    """11 quiet hours at ~2 events plus one 50-event hour: median 2,
    MAD 0, the spike is the only burst (excess 48)."""
    from akka_graph_db_spark.functions.events import event_bursts

    rows = []
    eid = 0
    for hr in range(11):
        for i in range(2):
            eid += 1
            rows.append((eid, f"2024-01-01 {hr:02d}:10:00", 1, "click"))
    for i in range(50):
        eid += 1
        rows.append((eid, "2024-01-01 11:30:00", 1, "click"))
    ev_df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type"
    )
    got = [
        (r["event_type"], r["hour"], r["n_events"], r["median_n"],
         r["mad_n"], r["excess"])
        for r in event_bursts(ev_df, k_mad=3).collect()
    ]
    assert got == [("click", "2024-01-01 11:00:00", 50, 2, 0, 48)]


def test_equidepth_histogram_exact_buckets(spark):
    """12 rows into 4 buckets of 3 — boundaries are exact order
    statistics, and the skewed tail doesn't swallow a bucket."""
    from akka_graph_db_spark.functions.profile import equidepth_histogram

    rows = [(i, float(v)) for i, v in enumerate(
        [1, 1, 1, 2, 2, 2, 3, 3, 3, 100, 200, 300]
    )]
    df = spark.createDataFrame(rows, "id bigint, v double")
    got = [
        (r["bucket"], r["n_rows"], r["lo"], r["hi"])
        for r in equidepth_histogram(df, "v", "id", k=4).collect()
    ]
    assert got == [
        (0, 3, 1.0, 1.0),
        (1, 3, 2.0, 2.0),
        (2, 3, 3.0, 3.0),
        (3, 3, 100.0, 300.0),
    ]


def test_percentile_by_group_exact(spark):
    """Group g: values 10,20,20,30 -> permille 250/750/750/1000;
    group h: single value -> 1000. Ties share the <=-rank."""
    from akka_graph_db_spark.functions.profile import percentile_by_group

    df = spark.createDataFrame(
        [(1, "g", 10), (2, "g", 20), (3, "g", 20), (4, "g", 30),
         (5, "h", 7)],
        "id bigint, grp string, v bigint",
    )
    got = {
        r["id"]: r["permille"]
        for r in percentile_by_group(df, "grp", "v", "id").collect()
    }
    assert got == {1: 250, 2: 750, 3: 750, 4: 1000, 5: 1000}


def test_frequent_triples_apriori(spark):
    """Baskets {1,2,3}, {1,2,3}, {1,2,4}: triple (1,2,3) support 2
    survives; (1,2,4) support 1 does not. Duplicate items in one
    basket count once."""
    from akka_graph_db_spark.functions.events import frequent_triples

    rows = [
        (10, 1), (10, 2), (10, 3), (10, 3),
        (11, 1), (11, 2), (11, 3),
        (12, 1), (12, 2), (12, 4),
    ]
    b = spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint")
    got = [
        (r["a"], r["b"], r["c"], r["support"])
        for r in frequent_triples(b, min_support=2).collect()
    ]
    assert got == [(1, 2, 3, 2)]


def test_column_correlation_exact(spark):
    """Perfect line y = 2x -> r = 1; hand-checkable moments."""
    from akka_graph_db_spark.functions.profile import column_correlation

    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0)], "x double, y double"
    )
    r = column_correlation(df, "x", "y").collect()[0]
    assert (r["n"], r["r"], r["x_mean"], r["y_mean"]) == (3, 1.0, 2.0, 4.0)
    # cov = E[xy] - E[x]E[y] = (2+8+18)/3 - 2*4 = 28/3 - 8
    assert r["cov"] == round(28 / 3 - 8, 6)


def test_interval_coverage_merges_overlaps(spark):
    """Three events 5 min apart chain into ONE 20-minute island; a
    fourth 2 hours later is its own 10-minute island."""
    from akka_graph_db_spark.functions.events import interval_coverage

    ev_df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7),
            (2, "2024-01-01 00:05:00", 7),
            (3, "2024-01-01 00:10:00", 7),
            (4, "2024-01-01 02:00:00", 7),
        ],
        "event_id bigint, ts string, user_id bigint",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id"
    )
    r = interval_coverage(ev_df, window_minutes=10).collect()[0]
    assert (r["covered_seconds"], r["n_islands"], r["n_events"]) == (
        1800, 2, 4,
    )


def test_event_trends_signs(spark):
    """Counts 1,2,3 over three days -> rising with slope 1; constant
    counts -> flat (numerator 0)."""
    from akka_graph_db_spark.functions.events import event_trends

    rows = []
    eid = 0
    for d, n in [(1, 1), (2, 2), (3, 3)]:
        for _ in range(n):
            eid += 1
            rows.append((eid, f"2024-01-0{d} 10:00:00", 1, "up"))
    for d in (1, 2, 3):
        eid += 1
        rows.append((eid, f"2024-01-0{d} 10:00:00", 1, "same"))
    ev_df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type"
    )
    got = {
        r["event_type"]: (r["trend"], r["slope"])
        for r in event_trends(ev_df).collect()
    }
    assert got == {"up": ("rising", 1.0), "same": ("flat", 0.0)}


def test_k_anonymity_report_exact(spark):
    """Groups of size 3, 1, 1 under k=2: 2 rows / 2 groups at risk,
    min size 1, permille 400."""
    from akka_graph_db_spark.functions.profile import k_anonymity_report

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "c")],
        "id bigint, q string",
    )
    r = k_anonymity_report(df, ["q"], k=2).collect()[0]
    assert (
        r["n_rows"], r["n_groups"], r["min_group_size"],
        r["n_rows_at_risk"], r["n_groups_at_risk"],
        r["at_risk_permille"],
    ) == (5, 3, 1, 2, 2, 400)


def test_fd_discovery_holds_and_violates(spark):
    """id -> color holds; color -> id violated by the duplicate color."""
    from akka_graph_db_spark.functions.profile import fd_discovery

    df = spark.createDataFrame(
        [(1, "red"), (2, "red"), (3, "blue")],
        "id bigint, color string",
    )
    got = {
        (r["determinant"], r["dependent"]): (
            r["n_violating_groups"], r["holds"]
        )
        for r in fd_discovery(df, ["id", "color"]).collect()
    }
    assert got == {
        ("id", "color"): (0, True),
        ("color", "id"): (1, False),
    }
