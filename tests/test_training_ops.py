"""Training-data operator tests: MinHash/SimHash banding guarantees,
ANN recall vs brute force, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from walker_spark.operators import dedup, multimodal, similarity

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (3, "completely different content about spark engines and shuffles"),
    (4, "completely different content about spark engines and shuffle"),  # near-dup of 3
    (5, "unrelated text with no overlap whatsoever here"),
    (6, "THE  Quick   Brown fox jumps over the lazy dog"),  # normalizes to 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_normalizes(docs):
    survivors = {r["doc_id"] for r in dedup.exact_dedup(docs).collect()}
    # 0, 2 and 6 collapse (case/whitespace normalization)
    assert survivors == {0, 1, 3, 4, 5}
    groups = dedup.exact_dup_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["keeper"] == 0 and groups[0]["n_docs"] == 3


def test_jaccard_pairs_exact(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, threshold=0.5, shingle_n=1).collect()
    }
    assert pairs[(0, 2)] == 1.0 and pairs[(0, 6)] == 1.0 and pairs[(2, 6)] == 1.0
    assert (0, 1) in pairs and pairs[(0, 1)] < 1.0  # dog/cat differ
    assert (3, 4) in pairs
    assert not any(5 in p for p in pairs)


def test_minhash_lsh_matches_bruteforce(docs):
    """LSH candidates + exact verify == brute-force pairs at the
    threshold (the banding design keeps recall ~1)."""
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.jaccard_pairs(docs, threshold=0.5, shingle_n=1).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, num_perm=64, bands=32, shingle_n=1
        ).collect()
    }
    assert lsh == exact


def test_simhash_banding_complete(spark, docs):
    """Banding (k+1 bands) must find every pair with hamming<=k —
    verify against a brute-force cross join on the signatures."""
    sims = dedup.simhash(docs).collect()
    brute = set()
    for i, a in enumerate(sims):
        for b in sims[i + 1 :]:
            x, y = sorted((a["_id"], b["_id"]))
            ham = bin((a["simhash"] ^ b["simhash"]) & ((1 << 64) - 1)).count("1")
            if ham <= 6:
                brute.add((x, y, ham))
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_pairs(docs, max_hamming=6).collect()
    }
    assert banded == brute
    assert any(p[:2] == (0, 2) for p in banded)  # identical docs -> hamming 0


def test_ann_recall(spark):
    """Clustered corpus (the setting LSH is designed for): vectors near
    4 centroids; the query sits near centroid 0, so its true top-k are
    cluster-0 members and multiprobe LSH must recover most of them."""
    import hashlib

    def prand(*parts):  # deterministic U(-1,1)
        h = int.from_bytes(hashlib.md5(":".join(map(str, parts)).encode()).digest()[:8], "big")
        return (h / 2**63) - 1.0

    dim = 16
    centroids = [[prand("c", c, d) for d in range(dim)] for c in range(4)]
    vecs = []
    for i in range(200):
        c = i % 4
        vecs.append(
            (i, [centroids[c][d] + 0.05 * prand("n", i, d) for d in range(dim)], c)
        )
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    q = [centroids[0][d] + 0.03 * prand("q", d) for d in range(dim)]
    exact = [r["id"] for r in similarity.cosine_topk(df, q, k=10).collect()]
    approx = [
        r["id"]
        for r in similarity.ann_topk(df, q, k=10, n_planes=8, multiprobe=2).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, (recall, exact, approx)


def test_multimodal_plumbing(spark, docs):
    assets = multimodal.assets_from_documents(docs)
    feats = multimodal.decode_and_extract(assets)
    rows = feats.collect()
    assert len(rows) == len(DOCS)
    for r in rows:
        assert r["n_bytes"] > 0 and len(r["checksum"]) == 32
        if r["kind"] == "image":
            assert r["width"] is not None and r["duration_ms"] is None
        else:
            assert r["width"] is None and r["duration_ms"] is not None
    # strict mode marks the real decoder integration point
    with pytest.raises(Exception) as exc:
        multimodal.decode_and_extract(assets, strict=True).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )
    frames = multimodal.sample_frames(feats)
    fr = frames.collect()
    assert fr, "video assets must fan out to frames"
    assert all(r["ts_ms"] == r["frame_idx"] * 10_000 for r in fr)


def test_embedding_dup_pairs_symmetric_threshold(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.99, 0.1, 0.0], 0),
            (3, [0.0, 1.0, 0.0], 0),
            (4, [1.0, 0.0, 0.0], 1),  # same direction, different label block
        ],
        "vec_id long, embedding array<float>, label int",
    )
    pairs = {
        (r["id_a"], r["id_b"]) for r in dedup.embedding_dup_pairs(df, 0.95).collect()
    }
    assert pairs == {(1, 2)}  # (1,4) blocked by label; (1,3) orthogonal


def test_ivf_recall_and_refinement(spark):
    """IVF on the clustered corpus: probing the cells nearest the query
    recovers the true top-k; one Lloyd iteration moves the sampled
    codebook toward the real cluster centers without hurting recall."""
    import hashlib

    def prand(*parts):
        h = int.from_bytes(hashlib.md5(":".join(map(str, parts)).encode()).digest()[:8], "big")
        return (h / 2**63) - 1.0

    dim = 16
    centroids = [[prand("c", c, d) for d in range(dim)] for c in range(4)]
    vecs = []
    for i in range(200):
        c = i % 4
        vecs.append((i, [centroids[c][d] + 0.05 * prand("n", i, d) for d in range(dim)], c))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    q = [centroids[0][d] + 0.03 * prand("q", d) for d in range(dim)]

    exact = [r["id"] for r in similarity.cosine_topk(df, q, k=10).collect()]
    for iters in (0, 1):
        approx = [
            r["id"]
            for r in similarity.ivf_topk(
                df, q, k=10, n_centroids=8, nprobe=3, refine_iters=iters
            ).collect()
        ]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.7, (iters, recall, exact, approx)

    # Lloyd refinement is deterministic (decimal sums): two runs agree
    cb0 = similarity.ivf_sample_centroids(df, 8)
    r1 = similarity.ivf_refine_centroids(df, cb0, iters=2)
    r2 = similarity.ivf_refine_centroids(df.repartition(5), cb0, iters=2)
    assert r1 == r2


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3, exercises pointer jumping), pair {10,11},
    # and an isolated self-contained triangle {20,21,22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_algorithms_parity(spark):
    """two_phase (large-star/small-star, default) and label_prop must
    assign identical labels on a randomized graph mixing long chains
    (worst case for propagation), dense cliques, stars, and isolated
    pairs — and two_phase must record its round count."""
    import random

    rng = random.Random(77)
    edges = []
    base = 0
    for _ in range(6):  # chains of length 12
        edges += [(base + i, base + i + 1) for i in range(12)]
        base += 13
    for _ in range(4):  # 8-cliques
        ids = [base + i for i in range(8)]
        edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
        base += 8
    for _ in range(30):  # random cross links within a pool
        edges.append((base + rng.randrange(40), base + rng.randrange(40)))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    lp = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(pairs, algorithm="label_prop").collect()
    }
    tp = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(pairs, algorithm="two_phase").collect()
    }
    assert tp == lp
    assert dedup.connected_components.last_rounds >= 1


def test_near_dup_clusters_keeper(docs):
    out = dedup.near_dup_clusters(
        docs, threshold=0.5, shingle_n=1, num_perm=64, bands=32
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # docs 0/2/6 are exact dups and 3/4 near-dups at 0.5: keeper = min id
    assert by_id[3]["cluster_id"] == 3 and by_id[3]["is_keeper"]
    assert by_id[4]["cluster_id"] == 3 and not by_id[4]["is_keeper"]
    assert by_id[0]["is_keeper"] and by_id[2]["cluster_id"] == 0 and by_id[6]["cluster_id"] == 0
    assert 5 not in by_id  # no near-dup -> not in any cluster


def test_near_dup_clusters_pairs_reuse_and_singletons(spark, docs):
    # precomputed pairs (pipeline reuse) == recomputing the LSH join
    pairs = dedup.minhash_lsh_pairs(
        docs, threshold=0.5, shingle_n=1, num_perm=64, bands=32
    ).localCheckpoint()
    reused = sorted(tuple(r) for r in dedup.near_dup_clusters(pairs=pairs).collect())
    direct = sorted(
        tuple(r)
        for r in dedup.near_dup_clusters(
            docs, threshold=0.5, shingle_n=1, num_perm=64, bands=32
        ).collect()
    )
    assert reused == direct
    # include_singletons emits every document, dup-free ones as keepers
    full = dedup.near_dup_clusters(docs, pairs=pairs, include_singletons=True)
    rows = {r["doc_id"]: r for r in full.collect()}
    assert set(rows) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert rows[5]["is_keeper"] and rows[5]["cluster_id"] == 5  # singleton
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.near_dup_clusters()


def test_simhash_xxhash_exact_hamming_oracle(spark):
    """Exact-hamming oracle for the xxhash64 simhash variant (the one
    driver query without a DuckDB SQL oracle — DuckDB has no xxhash64).
    Signatures are recomputed from scratch in pure Python (independent
    XXH64 per the public spec, tests/xxh64_ref.py; same tokenization:
    lower, collapse Java \\s, trim, split) and all C(n,2) pairs are
    brute-forced at hamming<=3 — the operator's banded pair set must
    match exactly, pairs and distances both."""
    import re as _re

    from xxh64_ref import xxh64_signed

    sf = "/root/testdata/sf0.01/documents.parquet"
    docs = spark.read.parquet(sf).select("doc_id", "text")
    rows = docs.collect()

    def py_simhash(text: str) -> int:
        toks = [
            t
            for t in _re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip().split(" ")
            if t
        ]
        counts = [0] * 64
        for t in toks:
            h = xxh64_signed(t.encode("utf-8")) & ((1 << 64) - 1)
            for i in range(64):
                counts[i] += 1 if (h >> i) & 1 else -1
        sig = 0
        for i in range(64):
            if counts[i] > 0:
                sig |= 1 << i
        return sig

    sigs = {r["doc_id"]: py_simhash(r["text"]) for r in rows}
    ids = sorted(sigs)
    expected = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert got == expected
    assert len(expected) > 0  # the corpus genuinely exercises the check


def test_connected_components_nonconvergence_raises(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="fixpoint"):
        dedup.connected_components(pairs, max_iterations=0)


def test_redact_pii(spark):
    from walker_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@foo-bar.org and 192.168.0.1 call +44-123-456-7890 done"),
            (2, "no pii here, just 1.2 numbers and an @ sign"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in textstats.redact_pii(df).collect()}
    assert out[1]["clean_text"] == "mail <EMAIL> and <IP> call <PHONE> done"
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (1, 1, 1)
    assert out[2]["clean_text"] == "no pii here, just 1.2 numbers and an @ sign"
    assert (out[2]["n_email"], out[2]["n_ip"], out[2]["n_phone"]) == (0, 0, 0)


def test_dup_ngram_spans_islands_and_within_doc_repeats(spark):
    # 10<->11 share the 5-token run "a b c d e"; 13 shares two
    # disjoint 3-gram runs with 10; 12 repeats a 3-gram only within
    # itself (must NOT trigger: min_docs counts distinct documents).
    df = spark.createDataFrame(
        [
            (10, "a b c d e f g h"),
            (11, "x1 x2 a b c d e y1"),
            (12, "m n o m n o m n o"),
            (13, "a b c z1 z2 z3 z4 c d e"),
            (14, "p q r s t u v w"),
        ],
        "doc_id long, text string",
    )
    out = dedup.dup_ngram_spans(df, n=3, min_docs=2)
    got = {(r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in out.collect()}
    assert got == {
        (10, 0, 5, 5),   # "a b c d e" (pos 0-2 merged)
        (11, 2, 7, 5),
        (13, 0, 3, 3),   # "a b c"
        (13, 7, 10, 3),  # "c d e" — separate island
    }
    schema = dict(out.dtypes)
    assert schema["span_start"] == "bigint" and schema["span_tokens"] == "bigint"


def test_repetition_stats_golden(spark):
    from walker_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (1, "go go go go go"),          # bigrams: "go go" x4 -> top 4/4
            (2, "a b a b a b a"),           # "a b" x3 of 6; trigrams "a b a" x3 + "b a b" x2 -> 5/5 dup
            (3, "all words differ here ok"),
            (4, "x"),                       # too short: zeros
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.repetition_stats(df).collect()}
    assert (out[1].n_bigrams, out[1].top_bigram_count, out[1].top_bigram_frac) == (4, 4, 1.0)
    assert (out[1].n_trigrams, out[1].dup_trigram_positions, out[1].dup_trigram_frac) == (3, 3, 1.0)
    assert (out[2].n_bigrams, out[2].top_bigram_count, out[2].top_bigram_frac) == (6, 3, 0.5)
    assert (out[2].n_trigrams, out[2].dup_trigram_positions, out[2].dup_trigram_frac) == (5, 5, 1.0)
    assert out[3].top_bigram_frac == 0.25 and out[3].dup_trigram_frac == 0.0
    assert (out[4].n_bigrams, out[4].top_bigram_frac, out[4].n_trigrams) == (0, 0.0, 0)


def test_incremental_near_dups_against_index(spark, docs):
    # corpus = docs 0-3 indexed once; batch = docs 4-6. Cross near-dups
    # must match brute-force jaccard restricted to (batch, corpus)
    # pairs; corpus-internal and batch-internal pairs must NOT appear.
    corpus = docs.filter(F.col("doc_id") <= 3)
    batch = docs.filter(F.col("doc_id") >= 4)
    index = dedup.minhash_index(corpus, num_perm=64, bands=16, shingle_n=1)
    # the index is persistable: round-trip through parquet like a real
    # pipeline would (schema survives, arrays intact)
    import tempfile, os
    path = os.path.join(tempfile.mkdtemp(prefix="lshidx-"), "index")
    index.write.parquet(path)
    index = spark.read.parquet(path)
    got = {
        (r.id_new, r.id_corpus, r.jaccard)
        for r in dedup.incremental_near_dups(
            batch, index, threshold=0.5, num_perm=64, bands=16, shingle_n=1
        ).collect()
    }
    brute = {
        (b, a, j)
        for (a, b, j) in (
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.jaccard_pairs(docs, threshold=0.5, shingle_n=1).collect()
        )
        if a <= 3 and b >= 4
    }
    assert got == brute and len(got) > 0
    # doc 6 normalizes identically to doc 0 -> exact dup, jaccard 1.0
    assert (6, 0, 1.0) in got

    # signatures-only index tier (no shingles column, ~100 B/doc at
    # 10^10 docs): the verify re-shingles candidate corpus docs from
    # text — results must be identical to the full-index path
    sig_index = dedup.minhash_index(
        corpus, num_perm=64, bands=16, shingle_n=1, include_shingles=False
    )
    assert "shingles" not in sig_index.columns
    sig_path = os.path.join(tempfile.mkdtemp(prefix="lshsig-"), "index")
    sig_index.write.parquet(sig_path)
    sig_index = spark.read.parquet(sig_path)
    got_sig = {
        (r.id_new, r.id_corpus, r.jaccard)
        for r in dedup.incremental_near_dups(
            batch, sig_index, threshold=0.5, num_perm=64, bands=16,
            shingle_n=1, corpus=corpus,
        ).collect()
    }
    assert got_sig == got
    # omitting corpus= with a signatures-only index fails loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="corpus"):
        dedup.incremental_near_dups(batch, sig_index, threshold=0.5)


def test_dup_ngram_spans_randomized_reference(spark):
    """300 seeded random docs over a 5-word alphabet vs a pure-Python
    reference: island merging (touching windows merge), len<n docs,
    within-doc-only repeats — the golden case only samples these."""
    import random
    from collections import defaultdict

    rng = random.Random(42)
    words = ["aa", "bb", "cc", "dd", "ee"]
    toks = {i: [rng.choice(words) for _ in range(rng.randint(0, 20))] for i in range(300)}
    n = 3
    gram_docs = defaultdict(set)
    for i, t in toks.items():
        for p in range(len(t) - n + 1):
            gram_docs[tuple(t[p:p + n])].add(i)
    expect = set()
    for i, t in toks.items():
        spans = []
        for p in range(len(t) - n + 1):
            if len(gram_docs[tuple(t[p:p + n])]) < 2:
                continue
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + n)
            else:
                spans.append([p, p + n])
        expect |= {(i, s, e, e - s) for s, e in spans}
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in toks.items()], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup.dup_ngram_spans(df, n=n, min_docs=2).collect()
    }
    assert got == expect and len(expect) > 50


def test_repetition_stats_randomized_reference(spark):
    from collections import Counter
    import random

    from walker_spark.operators import textstats

    rng = random.Random(7)
    words = ["x", "y", "z"]
    toks = {i: [rng.choice(words) for _ in range(rng.randint(1, 15))] for i in range(200)}

    def ref(t):
        bi = Counter(tuple(t[i:i + 2]) for i in range(len(t) - 1))
        tri = Counter(tuple(t[i:i + 3]) for i in range(len(t) - 2))
        nb, nt = sum(bi.values()), sum(tri.values())
        top = max(bi.values()) if bi else 0
        dup = sum(c for c in tri.values() if c >= 2)
        return (nb, top, top / nb if nb else 0.0, nt, dup, dup / nt if nt else 0.0)

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in toks.items()], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in textstats.repetition_stats(df).collect()}
    assert len(out) == 200
    for i, t in toks.items():
        nb, top, tf, nt, dup, df_ = ref(t)
        r = out[i]
        assert (r.n_bigrams, r.top_bigram_count, r.n_trigrams, r.dup_trigram_positions) == (nb, top, nt, dup), i
        assert abs(r.top_bigram_frac - tf) < 1e-3 and abs(r.dup_trigram_frac - df_) < 1e-3, i


def test_bigram_lm_scores_golden(spark):
    from walker_spark.operators import textstats

    ref = spark.createDataFrame(
        [(100, "a b a c"), (101, "a b")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "a b c"),   # (a,b): ln(3/6); (b,c) unseen: ln(1/5) -> avg -1.151
            (2, "z z"),     # fully OOV: ln(1/V) = ln(1/3) = -1.099
            (3, "solo"),    # <2 tokens: 0 bigrams, 0.0
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in textstats.bigram_lm_scores(docs, ref).collect()}
    assert (out[1].n_bigrams, out[1].avg_logprob) == (2, -1.151)
    assert (out[2].n_bigrams, out[2].avg_logprob) == (1, -1.099)
    assert (out[3].n_bigrams, out[3].avg_logprob) == (0, 0.0)


def test_line_dedup_boilerplate_removal(spark):
    """CCNet-style duplicated-line removal: lines shared by >=2 distinct
    docs are cut everywhere; within-doc repeats alone survive; blank
    lines never count; order is preserved; all-cut docs emit ''."""
    docs = spark.createDataFrame(
        [
            (1, "unique alpha\nCookie  Banner\nunique beta"),
            (2, "cookie banner\n\nmiddle text two"),     # normalizes to doc 1's banner
            (3, "self repeat\nself repeat\nown line"),   # within-doc repeat only
            (4, "cookie banner"),                        # everything is boilerplate
            (5, ""),                                     # no non-empty lines at all
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.line_dedup(docs, min_docs=2).collect()}
    assert len(out) == 5
    # the banner is cut from 1, 2 and 4 (case/whitespace-insensitive key)
    assert out[1].clean_text == "unique alpha\nunique beta"
    assert (out[1].n_lines, out[1].n_kept) == (3, 2)
    assert out[2].clean_text == "middle text two"
    assert (out[2].n_lines, out[2].n_kept) == (2, 1)  # blank line not counted
    # within-document repetition does not trigger (distinct-doc contract)
    assert out[3].clean_text == "self repeat\nself repeat\nown line"
    assert (out[3].n_lines, out[3].n_kept) == (3, 3)
    # a doc reduced to nothing still gets its row
    assert (out[4].n_lines, out[4].n_kept, out[4].clean_text) == (1, 0, "")
    assert (out[5].n_lines, out[5].n_kept, out[5].clean_text) == (0, 0, "")


def test_semantic_dup_pairs_cell_blocking(spark):
    """SemDeDup: near-dups inside a learned cell are found; a
    high-cosine pair split across the cell boundary is (by design)
    missed — the documented approximation recall buys back via
    refine_iters / more centroids."""
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # codebook[0]
        (1, [0.0, 1.0, 0.0, 0.0]),    # codebook[1]
        (2, [0.99, 0.10, 0.0, 0.0]),  # cell 0, near-dup of 0
        (3, [0.0, 0.99, 0.10, 0.0]),  # cell 1, near-dup of 1
        (6, [0.70, 0.72, 0.0, 0.0]),  # cell 1 (barely)
        (7, [0.72, 0.70, 0.0, 0.0]),  # cell 0 (barely) — cos(6,7)≈1 but split
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.semantic_dup_pairs(df, n_centroids=2, threshold=0.9).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.9
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.9
    assert (6, 7) not in pairs  # split across cells: the SemDeDup tradeoff
    assert all(a < b for a, b in pairs)
    assert len(pairs) == 2  # nothing else clears 0.9 within a cell


def test_gopher_rules_each_rule_trips(spark):
    """One planted document per Gopher rule (Rae et al. 2021 Table A1):
    the good doc passes; every other doc fails exactly through the rule
    it was built to trip."""
    from walker_spark.operators import textstats

    good = ("the data be good to train with and that we have here . " * 6).strip()
    rows = [
        (0, good),                                   # passes everything
        (1, "the be of and that have with short"),   # < 50 words
        (2, ("supercalifragilistic " * 60) + "the be"),  # mean word len > 10
        (3, good + " " + "# " * 20),                 # symbol ratio > 0.1
        (4, "\n".join(f"- {good}" for _ in range(10))),  # all lines bullets
        (5, "\n".join(f"{good}..." for _ in range(10))),  # lines ellipsis-ended
        (6, ("1234 5678 " * 30) + "the be of and"),  # alpha fraction < 0.8
        (7, ("apple banana cherry date fig grape " * 10).strip()),  # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in textstats.gopher_rules(df).collect()}

    assert out[0]["gopher_pass"] is True
    assert out[1]["n_words"] < 50 and out[1]["gopher_pass"] is False
    assert out[2]["mean_word_len"] > 10 and out[2]["gopher_pass"] is False
    assert out[3]["symbol_ratio"] > 0.1 and out[3]["gopher_pass"] is False
    assert out[4]["bullet_frac"] == 1.0 and out[4]["gopher_pass"] is False
    assert out[5]["ellipsis_frac"] == 1.0 and out[5]["gopher_pass"] is False
    assert out[6]["alpha_frac"] < 0.8 and out[6]["gopher_pass"] is False
    assert out[7]["stop_hits"] < 2 and out[7]["gopher_pass"] is False
    # rule inputs are emitted, not just the verdict
    assert out[0]["stop_hits"] >= 2 and 3.0 <= out[0]["mean_word_len"] <= 10.0


def test_pq_encode_and_adc_topk(spark):
    """Product quantization on the clustered corpus: codebook vectors
    encode to themselves, ADC ranks the query's own cluster first, and
    the exact-rerank path recovers the true top-k."""
    import hashlib

    def prand(*parts):
        h = int.from_bytes(hashlib.md5(":".join(map(str, parts)).encode()).digest()[:8], "big")
        return (h / 2**63) - 1.0

    dim = 16
    centers = [[prand("c", c, d) for d in range(dim)] for c in range(4)]
    vecs = []
    for i in range(200):
        c = i % 4
        vecs.append((i, [centers[c][d] + 0.05 * prand("n", i, d) for d in range(dim)], c))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    q = [centers[0][d] + 0.03 * prand("q", d) for d in range(dim)]

    cbs = similarity.pq_codebooks(df, m_subvectors=4, n_codes=8)
    assert len(cbs) == 4 and len(cbs[0]) == 8 and len(cbs[0][0]) == 4
    enc = {r["id"]: r for r in similarity.pq_encode(df, cbs).collect()}
    for i in range(200):
        for j in range(4):
            assert 0 <= enc[i][f"code_{j}"] < 8, (i, j)
    # the n_codes smallest-id vectors ARE the codebook: each encodes to
    # its own code in every subquantizer (zero self-distance)
    for c in range(8):
        assert all(enc[c][f"code_{j}"] == c for j in range(4)), enc[c]

    # ADC tier: the top-k by approx distance is dominated by the
    # query's own cluster (label 0 = ids % 4 == 0)
    adc = similarity.pq_topk(df, q, k=10, m_subvectors=4, n_codes=8).collect()
    assert [c for c in adc[0].__fields__] == ["id", "approx_dist"]
    assert sum(1 for r in adc if r["id"] % 4 == 0) >= 8, adc
    dists = [r["approx_dist"] for r in adc]
    assert dists == sorted(dists)

    # exact-rerank tier recovers the true top-k
    exact = [r["id"] for r in similarity.cosine_topk(df, q, k=10).collect()]
    rr = [
        r["id"]
        for r in similarity.pq_topk(
            df, q, k=10, m_subvectors=4, n_codes=8, rerank=50
        ).collect()
    ]
    recall = len(set(exact) & set(rr)) / 10
    assert recall >= 0.7, (recall, exact, rr)


def test_perplexity_buckets_matches_pure_python_rank(spark):
    """Randomized parity: the distributed global rank (range exchange +
    per-partition row_number + broadcast offsets) must assign exactly
    the bucket a single-threaded sort would, including score ties
    (broken by id) and a bucket count that doesn't divide n."""
    from walker_spark.operators.textstats import perplexity_buckets

    def prand(*xs):
        import hashlib

        h = int.from_bytes(
            hashlib.md5("|".join(map(str, xs)).encode()).digest()[:8], "big"
        )
        return (h % 1000) / 250.0 - 2.0  # coarse grid -> frequent ties

    rows = [(i, round(prand("s", i), 2)) for i in range(137)]
    df = spark.createDataFrame(rows, "id long, avg_logprob double")

    for n_buckets, labels in [(3, ("head", "middle", "tail")), (4, ("a", "b", "c", "d"))]:
        got = {
            r["id"]: r["ppl_bucket"]
            for r in perplexity_buckets(
                df, n_buckets=n_buckets, labels=labels, partitions=7
            ).collect()
        }
        order = sorted(rows, key=lambda r: (-r[1], r[0]))
        n = len(order)
        for rank0, (i, _) in enumerate(order):
            assert got[i] == labels[rank0 * n_buckets // n], (i, rank0)
        # equal-size property: bucket sizes differ by at most one
        from collections import Counter

        sizes = Counter(got.values())
        assert max(sizes.values()) - min(sizes.values()) <= 1, sizes

    with pytest.raises(ValueError):
        perplexity_buckets(df, n_buckets=2, labels=("x", "y", "z"))


def test_embedding_clusters_matches_pure_python_kmeans(spark):
    """Parity: init (n smallest ids) + one Lloyd step + final argmin
    assignment must match a single-threaded k-means replay exactly
    (cid for every vector), and planted well-separated groups must
    land in one cluster each."""
    from walker_spark.operators.similarity import embedding_clusters

    def prand(*xs):
        import hashlib

        h = int.from_bytes(
            hashlib.md5("|".join(map(str, xs)).encode()).digest()[:8], "big"
        )
        return (h / 2**63) - 1.0

    dim, groups = 12, 5
    centers = [[4.0 * prand("c", g, d) for d in range(dim)] for g in range(groups)]
    rows = [
        (i, [centers[i % groups][d] + 0.05 * prand("n", i, d) for d in range(dim)])
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["id"]: r["cid"]
        for r in embedding_clusters(df, n_clusters=5, refine_iters=1).collect()
    }

    # pure-python replay (float32 inputs surfaced as doubles)
    import numpy as np

    vecs = {i: [float(np.float32(x)) for x in v] for i, v in rows}

    def sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    cents = [vecs[i] for i in range(5)]
    assign = {i: min(range(5), key=lambda c: (sq(v, cents[c]), c)) for i, v in vecs.items()}
    new = []
    for c in range(5):
        members = [vecs[i] for i in sorted(vecs) if assign[i] == c]
        if not members:
            new.append(cents[c])
        else:
            new.append([sum(m[d] for m in members) / len(members) for d in range(dim)])
    expect = {i: min(range(5), key=lambda c: (sq(v, new[c]), c)) for i, v in vecs.items()}
    assert got == expect

    # planted structure: each group maps to exactly one cluster id
    by_group = {}
    for i in vecs:
        by_group.setdefault(i % groups, set()).add(got[i])
    assert all(len(s) == 1 for s in by_group.values()), by_group
    assert len({next(iter(s)) for s in by_group.values()}) == groups


def test_cluster_sample_prototypical_per_cluster(spark):
    """cluster_sample must return exactly per_cluster rows per
    cluster (ranks 1..k, distances non-decreasing) and agree with an
    independent ranking of the (oracle-checked) embedding_clusters
    output."""
    from walker_spark.operators.similarity import cluster_sample, embedding_clusters

    def prand(*xs):
        import hashlib

        h = int.from_bytes(
            hashlib.md5("|".join(map(str, xs)).encode()).digest()[:8], "big"
        )
        return (h / 2**63) - 1.0

    dim, groups = 12, 5
    centers = [[4.0 * prand("c", g, d) for d in range(dim)] for g in range(groups)]
    rows = [
        (i, [centers[i % groups][d] + 0.05 * prand("n", i, d) for d in range(dim)])
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    picked = cluster_sample(df, per_cluster=3, n_clusters=5, refine_iters=1).collect()
    full = embedding_clusters(df, n_clusters=5, refine_iters=1).collect()

    by_cid = {}
    for r in sorted(picked, key=lambda r: (r["cid"], r["rank"])):
        by_cid.setdefault(r["cid"], []).append(r)
    assert set(by_cid) == set(range(5))
    for cid, rs in by_cid.items():
        assert [r["rank"] for r in rs] == [1, 2, 3]
        dists = [r["sq_dist"] for r in rs]
        assert dists == sorted(dists)
        members = sorted(
            (f for f in full if f["cid"] == cid),
            key=lambda f: (f["sq_dist"], f["id"]),
        )
        assert [r["id"] for r in rs] == [m["id"] for m in members[:3]]


def test_cluster_sample_reuses_precomputed_clusters(spark):
    """cluster_sample(clusters=...) must match the self-training path
    exactly (pipeline reuse, near_dup_clusters(pairs=...) precedent)."""
    from walker_spark.operators.similarity import cluster_sample, embedding_clusters

    rows = [(i, [float((i * 13 + d * 7) % 19 - 9) for d in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pre = embedding_clusters(df, n_clusters=4, refine_iters=1)
    a = sorted(map(tuple, cluster_sample(df, 3, n_clusters=4).collect()))
    b = sorted(map(tuple, cluster_sample(df, 3, clusters=pre).collect()))
    assert a == b and len(a) == 12


def test_c4_rules_each_rule_trips(spark):
    """One planted page per C4 rule (Raffel et al. 2020 §2.2): line
    filter (terminal punctuation, >= 5 words, no 'javascript') and page
    kills (curly brace, lorem ipsum, < 3 sentences)."""
    from walker_spark.operators import textstats

    good_line = "this line has enough words to keep."
    good = "\n".join([good_line] * 4)
    rows = [
        (0, good),                                           # passes
        (1, good + "\nthis javascript line must drop away."),  # line drop
        (2, good + "\ntoo short."),                          # <5 words drop
        (3, good + "\nno terminal punctuation on this line"),  # ending drop
        (4, good + " lorem ipsum"),                          # page kill
        (5, "{ " + good),                                    # page kill
        (6, good_line + "\n" + good_line),                   # only 2 sentences
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in textstats.c4_rules(df).collect()}

    assert out[0]["c4_pass"] is True and out[0]["n_kept_lines"] == 4
    assert out[1]["c4_pass"] is True and out[1]["n_kept_lines"] == 4  # bad line gone
    assert out[1]["n_lines"] == 5
    assert "javascript" not in out[1]["clean_text"]
    assert out[2]["n_kept_lines"] == 4 and out[3]["n_kept_lines"] == 4
    assert out[4]["c4_pass"] is False and out[4]["has_bad_phrase"] is True
    assert out[5]["c4_pass"] is False and out[5]["has_brace"] is True
    assert out[6]["c4_pass"] is False and out[6]["n_sentences"] == 2


def test_hash_classifier_matches_pure_python(spark):
    """Default path replays exactly in pure Python (md5 bucket ->
    integer weight -> exact int64 fold); trained path scores with the
    provided bucket weights."""
    import hashlib
    import math

    from walker_spark.operators import textstats

    rows = [(0, "alpha beta gamma delta"), (1, "alpha alpha alpha"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in textstats.hash_classifier_scores(df, dim=4096).collect()}

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    for doc_id, text in rows:
        toks = [t for t in " ".join(text.lower().split()).split(" ") if t]
        total = sum((h32(f"qc1:{h32(t) % 4096}") % 2001) - 1000 for t in toks)
        n = len(toks)
        # exact half-up-at-4-decimals integer rounding (op contract)
        logit = math.floor((20 * total + n) / (2 * n)) / 10000.0 if n else 0.0
        prob = 1.0 / (1.0 + math.exp(-logit))
        assert out[doc_id]["n_tokens"] == n
        assert out[doc_id]["logit"] == logit
        assert out[doc_id]["prob"] == round(prob, 4)

    # trained path: a positive weight on 'alpha's bucket pushes doc 1 up
    bucket_alpha = h32("alpha") % 4096
    wdf = spark.createDataFrame([(bucket_alpha, 2.0)], "bucket int, weight double")
    trained = {
        r["id"]: r
        for r in textstats.hash_classifier_scores(df, dim=4096, weights=wdf).collect()
    }
    assert trained[1]["logit"] == 2.0  # all three tokens hit the bucket
    assert trained[2]["n_tokens"] == 0 and trained[2]["prob"] == 0.5
    assert trained[0]["logit"] == 0.5  # 1 of 4 tokens weighted 2.0


def test_chunk_documents_windows(spark):
    """150-token doc at 64/16: starts 0,48,96,144; the 6-token tail
    drops (< min_tokens); consecutive chunks share the 16-token
    overlap; a short doc keeps its single chunk."""
    from walker_spark.operators import curation

    words = " ".join(f"w{i}" for i in range(150))
    df = spark.createDataFrame(
        [(0, words), (1, "tiny doc"), (2, "")], "doc_id long, text string"
    )
    out = curation.chunk_documents(
        df, chunk_tokens=64, overlap=16, min_tokens=8
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], {})[r["chunk_idx"]] = r

    assert sorted(by_doc[0]) == [0, 1, 2]  # start 144 -> 6 tokens, dropped
    assert by_doc[0][0]["n_chunk_tokens"] == 64
    assert by_doc[0][2]["n_chunk_tokens"] == 54  # tokens 96..149
    c0 = by_doc[0][0]["chunk_text"].split(" ")
    c1 = by_doc[0][1]["chunk_text"].split(" ")
    assert c0[48:64] == c1[0:16]  # overlap carried
    assert sorted(by_doc[1]) == [0] and by_doc[1][0]["n_chunk_tokens"] == 2
    assert 2 not in by_doc  # empty doc yields nothing
    # stable chunk ids
    import hashlib

    assert by_doc[0][1]["chunk_id"] == hashlib.md5(b"0:1").hexdigest()


def test_bm25_matches_pure_python(spark):
    """Full BM25 output (scores, ranks, tie-breaks) replays against a
    pure-Python reference using the same micro-unit quantization."""
    import math

    from walker_spark.operators.retrieval import bm25_topk

    corpus = [
        (0, "spark shuffle join spark spark"),
        (1, "shuffle partition skew"),
        (2, "join broadcast join small table"),
        (3, "window rank dense rank"),
        (4, "spark window shuffle join broadcast"),
    ]
    queries = [(0, "spark join"), (1, "window")]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id int, query string")
    out = bm25_topk(docs, qdf, k=3).collect()

    k1, b = 1.2, 0.75
    toks = {i: t.split(" ") for i, t in corpus}
    N = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / N

    def score(qterms, d):
        micro = 0
        n_matched = 0
        for t in dict.fromkeys(qterms):
            tf = toks[d].count(t)
            if not tf:
                continue
            n_matched += 1
            dfreq = sum(1 for tt in toks.values() if t in tt)
            idf = math.log(1.0 + (N - dfreq + 0.5) / (dfreq + 0.5))
            x = idf * (tf * (k1 + 1)) / (tf + k1 * (1.0 - b + (b * len(toks[d])) / avgdl))
            micro += math.floor(x * 1_000_000 + 0.5)
        return n_matched, math.floor((micro + 50) / 100) / 10000.0

    expected = {}
    for qid, q in queries:
        qt = q.split(" ")
        scored = []
        for d in toks:
            n_matched, s = score(qt, d)
            if n_matched:
                scored.append((-s, d, n_matched, s))
        scored.sort()
        for rank, (_, d, n_matched, s) in enumerate(scored[:3], 1):
            expected[(qid, d)] = (rank, n_matched, s)

    got = {(r["query_id"], r["doc_id"]): (r["rank"], r["n_matched"], r["score"]) for r in out}
    assert got == expected


def test_phrase_search_planted(spark):
    """Overlapping hits, multi-length phrases in ONE call, zero-hit
    phrase absent, and whitespace/case normalization."""
    from walker_spark.operators.retrieval import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),          # "a a" overlaps at pos 0 and 1
            (2, "x y z x y z"),      # "x y z" at 0 and 3
            (3, "A   a B"),          # normalizes to "a a b"
            (4, "b c d"),
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [(0, "a a"), (1, "x y z"), (2, "never here at all")],
        "phrase_id int, phrase string",
    )
    got = {
        (r.phrase_id, r.doc_id): (r.n_hits, r.first_pos)
        for r in phrase_search(docs, phrases).collect()
    }
    assert got == {
        (0, 1): (2, 0),
        (0, 3): (1, 0),
        (1, 2): (2, 0),
    }


def test_vocab_coverage_pure_python(spark):
    from walker_spark.operators.textstats import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a d  B")],
        "doc_id long, text string",
    )
    # counts: b=4 (case-normalized), a=3, c=1, d=1; total=9
    rows = vocab_coverage(docs, top_v=3).orderBy("rank").collect()
    assert [(r.rank, r.term, r.cnt, r.cum_cnt, r.coverage_ppm) for r in rows] == [
        (1, "b", 4, 4, 4 * 1_000_000 // 9),
        (2, "a", 3, 7, 7 * 1_000_000 // 9),
        (3, "c", 1, 8, 8 * 1_000_000 // 9),
    ]


def _pagerank_reference(edges, iterations, num=17, den=20, micro=1_000_000):
    """Pure-Python replay of the exact integer recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    outdeg = {n: 0 for n in nodes}
    for u, _ in edges:
        outdeg[u] += 1
    n_nodes = len(nodes)
    base = (micro * (den - num)) // den
    r = {n: micro for n in nodes}
    for _ in range(iterations):
        dang = sum(r[n] for n in nodes if outdeg[n] == 0)
        share = (dang * num) // (den * n_nodes)
        nxt = {n: base + share for n in nodes}
        for u, v in edges:
            if outdeg[u] > 0:
                nxt[v] += (r[u] * num) // (den * outdeg[u])
        r = nxt
    return r


def test_pagerank_matches_pure_python(spark):
    """Bit-exact vs the integer reference on a graph with a dangling
    node, a duplicate edge, and an in-edge-only node."""
    from walker_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 2), (2, 3), (3, 1), (4, 1), (2, 5)]
    # node 5 is dangling (no out-edges); 4 has no in-edges; (1,2) dup
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 3):
        got = {r.node: r.rank_micro for r in pagerank(df, iterations=iters).collect()}
        assert got == _pagerank_reference(edges, iters), iters


def test_pagerank_mass_and_hub(spark):
    """Teleport + redistribution conserve mass up to floor losses, and
    the hub every node links to out-ranks the others."""
    from walker_spark.operators.graph import MICRO, pagerank

    edges = [(i, 0) for i in range(1, 8)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    # odd iteration count: the bulk mass of the 0<->1 cycle sits at 0
    # (it alternates sides each iteration — parity matters)
    rows = pagerank(df, iterations=5).collect()
    ranks = {r.node: r.rank_micro for r in rows}
    n = len(ranks)
    assert all(v > 0 for v in ranks.values())
    # floor losses only shrink mass, never grow it
    assert sum(ranks.values()) <= n * MICRO
    assert sum(ranks.values()) > n * MICRO * 0.9
    assert ranks[0] == max(ranks.values())
    assert ranks[0] > ranks[2]


def test_pagerank_validates_args(spark):
    from walker_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        pagerank(df, damping_num=20, damping_den=20)


def test_degree_stats(spark):
    from walker_spark.operators.graph import degree_stats

    df = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (4, 1)], "src long, dst long"
    )
    got = {r.node: (r.out_deg, r.in_deg) for r in degree_stats(df).collect()}
    assert got == {1: (2, 1), 2: (1, 2), 3: (0, 1), 4: (1, 0)}


def _hits_reference(edges, iterations, scale=1_000_000_000):
    """Pure-Python replay of the exact integer L1-HITS recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    h = {n: scale for n in nodes}
    a = {n: 0 for n in nodes}
    for _ in range(iterations):
        ar = {n: 0 for n in nodes}
        for u, v in edges:
            ar[v] += h[u]
        tot = max(sum(ar.values()), 1)
        a = {n: (ar[n] * scale) // tot for n in nodes}
        hr = {n: 0 for n in nodes}
        for u, v in edges:
            hr[u] += a[v]
        tot = max(sum(hr.values()), 1)
        h = {n: (hr[n] * scale) // tot for n in nodes}
    return h, a


def test_hits_matches_pure_python(spark):
    from walker_spark.operators.graph import hits

    edges = [(1, 10), (2, 10), (3, 10), (1, 11), (2, 11), (10, 1), (4, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 3):
        got = {
            r.node: (r.hub_score, r.auth_score)
            for r in hits(df, iterations=iters).collect()
        }
        h, a = _hits_reference(edges, iters)
        assert got == {n: (h[n], a[n]) for n in h}, iters


def test_hits_hub_authority_separation(spark):
    """Pure hubs score high on hub_score and zero authority; the
    pointed-at node is the top authority."""
    from walker_spark.operators.graph import hits

    edges = [(i, 100) for i in range(1, 6)] + [(1, 101)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r.hub_score, r.auth_score) for r in hits(df, iterations=3).collect()}
    assert got[100][1] == max(v[1] for v in got.values())
    assert got[100][0] == 0          # 100 links to nobody: zero hub
    assert got[2][1] == 0            # 2 has no in-links: zero authority
    assert got[1][0] >= got[2][0]    # 1 also links to 101


def test_exact_percentiles_matches_sorted_selection(spark):
    from walker_spark.operators.textstats import exact_percentiles

    vals = [5, 1, 9, 1, 7, 3, 3, 3, 11, 2, 8, 6]  # ties included
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    qs = (0.0, 0.25, 0.5, 0.9, 1.0)
    got = {r.q: (r.value, r.rank, r.n) for r in exact_percentiles(df, "x", qs=qs).collect()}
    s = sorted(vals)
    n = len(s)
    import math

    for q in qs:
        target = math.floor(q * (n - 1)) + 1
        assert got[q] == (s[target - 1], target, n), q


def test_exact_percentiles_distributed_rank(spark):
    """Partition count must not change the selected values."""
    from walker_spark.operators.textstats import exact_percentiles

    df = spark.range(1000).select((F.col("id") * 7 % 1000).alias("x"))
    a = {r.q: r.value for r in exact_percentiles(df, "x", qs=(0.5,), partitions=2).collect()}
    b = {r.q: r.value for r in exact_percentiles(df, "x", qs=(0.5,), partitions=13).collect()}
    assert a == b == {0.5: 499}


def test_bm25_indexed_parity(spark):
    """Index-served BM25 is bit-identical to the ad-hoc path, and the
    round-trip through parquet preserves that."""
    import tempfile

    from walker_spark.operators.retrieval import (
        PostingsIndex,
        bm25_topk,
        bm25_topk_indexed,
        build_postings_index,
    )

    corpus = [
        (0, "spark shuffle join spark spark"),
        (1, "shuffle partition skew"),
        (2, "join broadcast join small table"),
        (3, "window rank dense rank"),
        (4, "spark window shuffle join broadcast"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    qdf = spark.createDataFrame(
        [(0, "spark join"), (1, "window"), (2, "nothing matches this")],
        "query_id int, query string",
    )
    direct = sorted(map(tuple, bm25_topk(docs, qdf, k=3).collect()))
    idx = build_postings_index(docs)
    served = sorted(map(tuple, bm25_topk_indexed(idx, qdf, k=3).collect()))
    assert served == direct

    with tempfile.TemporaryDirectory() as d:
        idx.postings.write.parquet(f"{d}/postings")
        idx.dfreq.write.parquet(f"{d}/dfreq")
        idx.stats.write.parquet(f"{d}/stats")
        loaded = PostingsIndex(
            spark.read.parquet(f"{d}/postings"),
            spark.read.parquet(f"{d}/dfreq"),
            spark.read.parquet(f"{d}/stats"),
        )
        roundtrip = sorted(map(tuple, bm25_topk_indexed(loaded, qdf, k=3).collect()))
    assert roundtrip == direct


def test_extend_postings_index_equals_full_rebuild(spark):
    """extend(build(A), B) is bit-identical to build(A u B): every
    index table row-for-row, and the served result."""
    from pyspark.sql import functions as F

    from walker_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_postings_index,
        extend_postings_index,
    )

    corpus = [
        (0, "spark shuffle join spark spark"),
        (1, "shuffle partition skew"),
        (2, "join broadcast join small table"),
        (3, "window rank dense rank"),
        (4, "spark window shuffle join broadcast"),
        (5, ""),  # tokenless doc: contributes nothing either way
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    full = build_postings_index(docs)
    inc = extend_postings_index(
        build_postings_index(docs.filter(F.col("doc_id") < 3)),
        docs.filter(F.col("doc_id") >= 3),
    )
    for a, b in zip(full, inc):
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    qdf = spark.createDataFrame(
        [(0, "spark join"), (1, "window rank")], "query_id int, query string"
    )
    assert sorted(map(tuple, bm25_topk_indexed(full, qdf, k=3).collect())) == sorted(
        map(tuple, bm25_topk_indexed(inc, qdf, k=3).collect())
    )


def test_tokenize_ids_exact(spark):
    from walker_spark.operators.textstats import tokenize_ids, vocab_coverage

    docs = spark.createDataFrame(
        [(1, "b a  b Z b"), (2, "a q a"), (3, "zz")],
        "doc_id long, text string",
    )
    # corpus counts: a=3, b=3 (tie -> term asc: a id 1, b id 2)
    out = {r.id: (r.ids, r.n_tokens, r.n_oov)
           for r in tokenize_ids(docs, vocab_coverage(docs, top_v=2)).collect()}
    assert out == {
        1: ([2, 1, 2, 0, 2], 5, 1),   # z is OOV (case-normalized)
        2: ([1, 0, 1], 3, 1),
        3: ([0], 1, 1),
    }
    # explicit vocab table with custom id column name
    vocab = spark.createDataFrame([("a", 7), ("zz", 9)], "term string, tok int")
    out2 = {r.id: r.ids for r in tokenize_ids(
        docs, vocab, vocab_id_col="tok", oov_id=-1).collect()}
    assert out2 == {1: [-1, 7, -1, -1, -1], 2: [7, -1, 7], 3: [9]}


def test_quality_pipeline_verdicts(spark):
    """One planted doc per failure mode; the survivor passes all
    three gates; reasons come in the fixed c4,gopher,classifier order."""
    from walker_spark.operators.textstats import quality_pipeline

    good = (
        "the data and the table are of good shape because we scan them. "
        "that is why we have to keep all of it with care. "
        "the rest is here to be counted with the others."
    )
    docs = spark.createDataFrame(
        [
            (1, good.replace(". ", ".\n")),        # passes everything
            (2, "{ " + good.replace(". ", ".\n")), # c4 kill: brace
            (3, "no terminal punctuation here at all"),  # c4: no kept lines
            (4, "the of it.\nand to me.\nwith that one.\n"),  # c4 ok; gopher: 9 words < 10
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: (r.c4_pass, r.gopher_pass, r.quality_pass, r.fail_reasons)
        for r in quality_pipeline(
            docs, c4_min_line_words=3, c4_min_sentences=1,
            min_stop_hits=1, gopher_min_words=10, min_prob=0.0,
        ).collect()
    }
    assert out[1][:3] == (True, True, True) and out[1][3] == ""
    assert out[2][0] is False and "c4" in out[2][3]
    assert out[3][0] is False
    assert out[4] == (True, False, False, "gopher")
    # with a prob floor of 1.0 nothing survives and the reason says so
    strict = quality_pipeline(
        docs, c4_min_line_words=3, c4_min_sentences=1,
        min_stop_hits=1, gopher_min_words=10, min_prob=1.01,
    ).filter("quality_pass").count()
    assert strict == 0


def test_rrf_fuse_exact_integer(spark):
    """Fused scores are exact BIGINT sums of scale div (rrf_k + rank);
    per-leg rank columns pivot correctly and ties break on doc_id."""
    from walker_spark.operators.retrieval import RRF_SCALE, rrf_fuse

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id int, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2), (0, 12, 3)], "query_id int, doc_id long, rank int"
    )
    out = {r["doc_id"]: r for r in rrf_fuse({"a": a, "b": b}, k=10).collect()}

    def c(r):
        return RRF_SCALE // (60 + r)

    assert out[11]["rrf_score"] == c(2) + c(1) and out[11]["n_legs"] == 2
    assert out[12]["rrf_score"] == c(3) + c(3) and out[12]["n_legs"] == 2
    assert out[10]["rrf_score"] == c(1) and out[10]["a_rank"] == 1 and out[10]["b_rank"] == 0
    assert out[13]["rrf_score"] == c(2) and out[13]["a_rank"] == 0 and out[13]["b_rank"] == 2
    # doc 11 fuses highest; 10 (single top-1 leg) vs 12 (two rank-3s):
    # c(1) = 16393442 < c(3)*2 = 31746030, so 12 outranks 10
    ranks = {d: r["rank"] for d, r in out.items()}
    assert ranks == {11: 1, 12: 2, 10: 3, 13: 4}


def test_dense_topk_matches_brute_and_partitioning(spark):
    """Multi-query dense_topk equals per-query cosine_topk, and the
    two-stage top-k is invariant to the input partitioning."""
    import hashlib

    from walker_spark.operators.similarity import cosine_topk, dense_topk

    def vec(i):
        return [
            (int.from_bytes(hashlib.md5(f"{i}:{d}".encode()).digest()[:4], "big")
             / 2**31) - 1.0
            for d in range(8)
        ]

    rows = [(i, vec(i)) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(
        [(7, vec(7)), (19, vec(19))], "query_id long, qvec array<double>"
    )
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in dense_topk(df, qdf, k=5).collect()
    }
    for qid in (7, 19):
        brute = cosine_topk(df, vec(qid), k=5).collect()
        for rank, r in enumerate(brute, 1):
            assert got[(qid, rank)] == (r["id"], r["score"])
    # self similarity is 1.0 at rank 1
    assert got[(7, 1)][0] == 7 and got[(7, 1)][1] == 1.0

    reparted = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in dense_topk(df.repartition(13), qdf, k=5).collect()
    }
    assert reparted == got


def test_hybrid_topk_fuses_both_legs(spark):
    """Query-by-example hybrid: the example doc tops both legs (rank 1
    lexical + rank 1 dense => max possible RRF score) and docs
    retrieved by only one leg still appear with the other rank 0."""
    from walker_spark.operators.retrieval import RRF_SCALE, hybrid_topk

    docs = spark.createDataFrame(
        [
            (0, "spark shuffle join spark spark"),
            (1, "shuffle partition skew"),
            (2, "join broadcast join small table"),
            (3, "window rank dense rank"),
            (4, "spark window shuffle join broadcast"),
        ],
        "doc_id long, text string",
    )
    # embeddings: doc 0's nearest dense neighbour is 3 (lexically unrelated)
    vecs = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [-1.0, 0.2], 3: [0.9, 0.1], 4: [0.1, 0.9]}
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    out = {r["doc_id"]: r for r in hybrid_topk(docs, emb, [0], k=5, k_leg=3).collect()}
    self_row = out[0]
    assert self_row["rank"] == 1
    assert self_row["bm25_rank"] == 1 and self_row["dense_rank"] == 1
    assert self_row["rrf_score"] == 2 * (RRF_SCALE // 61)
    assert self_row["n_legs"] == 2
    # doc 3 is dense-only top-2, never lexically relevant to doc 0's text
    assert out[3]["dense_rank"] == 2 and out[3]["bm25_rank"] == 0 and out[3]["n_legs"] == 1


def test_winnow_fingerprints_pure_python(spark):
    """Winnowing output (selections, positions, hashes) replays against
    a direct pure-Python implementation of the paper's scheme on a
    randomized corpus; output is partition-invariant; the w+k-1 shared
    run guarantee holds on a planted pair."""
    import hashlib
    import random

    from walker_spark.operators.textstats import winnow_fingerprints

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(12)]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(30)
    ]
    # planted: docs 100/101 share a 9-token run (k=5, w=4 => k+w-1=8)
    shared = "a b c d e f g h i"
    corpus += [(100, "x y " + shared), (101, shared + " z q r")]
    k, w = 5, 4

    def ref(text):
        toks = [t for t in text.lower().split() if t]
        grams = [" ".join(toks[p : p + k]) for p in range(len(toks) - k + 1)]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
        ]
        out = set()
        for e in range(w - 1, len(hs)):
            window = hs[e - w + 1 : e + 1]
            m = min(window)
            # rightmost minimal position
            pos = e - list(reversed(window)).index(m)
            out.add((pos, m))
        return out

    expected = {
        (i, p, h) for i, t in corpus for (p, h) in ref(t)
    }
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r["id"], r["pos"], r["hash32"])
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    assert got == expected

    reparted = {
        (r["id"], r["pos"], r["hash32"])
        for r in winnow_fingerprints(df.repartition(7), k=k, w=w).collect()
    }
    assert reparted == got

    # guarantee: the planted pair shares at least one fingerprint HASH
    h100 = {h for (i, p, h) in got if i == 100}
    h101 = {h for (i, p, h) in got if i == 101}
    assert h100 & h101


def test_bpe_merges_pure_python(spark):
    """The learned merge sequence (pairs, counts, tie-breaks, and the
    left-to-right non-overlapping application) replays against a
    direct pure-Python BPE trainer on a randomized corpus."""
    import random

    from walker_spark.operators.textstats import bpe_merges

    rng = random.Random(99)
    alphabet = "abcde"
    corpus = [
        (i, " ".join(
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(0, 15))
        ))
        for i in range(40)
    ]

    def ref(n_merges):
        from collections import Counter

        words = Counter()
        for _, t in corpus:
            for w in t.lower().split():
                if w:
                    words[tuple(w)] += 1
        out = []
        for step in range(1, n_merges + 1):
            pc = Counter()
            for syms, c in words.items():
                for x, y in zip(syms, syms[1:]):
                    pc[(x, y)] += c
            if not pc:
                break
            # max count, ties lexicographic (left, right) asc
            (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((step, a, b, a + b, n))
            new_words = Counter()
            for syms, c in words.items():
                merged, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                new_words[tuple(merged)] += c
            words = new_words
        return out

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_merges(df, n_merges=6).orderBy("step").collect()
    ]
    assert got == ref(6)


def _bpe_seq_apply(word, merges):
    """Training-order replay: one left-to-right non-overlapping pass
    per merge, in step order — the fold bpe_merges applies."""
    syms = list(word)
    for a, b in merges:
        out, i, n = [], 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_apply_greedy_equals_sequential():
    """Greedy min-rank application == step-order application, on
    randomized merge tables that include chained merges (a merge whose
    side is itself a merged symbol)."""
    import random

    from walker_spark.operators.textstats import bpe_apply

    rng = random.Random(7)
    alphabet = "abc"
    for trial in range(200):
        # grow a random but well-formed merge table: each new pair is
        # built from symbols available so far (chars + prior merges)
        avail = list(alphabet)
        merges = []
        for _ in range(rng.randint(0, 10)):
            a, b = rng.choice(avail), rng.choice(avail)
            if (a, b) in merges:
                continue
            merges.append((a, b))
            avail.append(a + b)
        ranks = {p: i for i, p in enumerate(merges)}
        for _ in range(5):
            w = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
            assert bpe_apply(w, ranks) == _bpe_seq_apply(w, merges), (
                w,
                merges,
            )


def test_bpe_encode_end_to_end(spark):
    """Train merges on a randomized corpus, encode the same corpus,
    and replay the whole pipeline in pure Python (trainer + step-order
    application). Also pins the no-token-doc and single-char-word
    contracts."""
    import random

    from walker_spark.operators.textstats import bpe_encode, bpe_merges

    rng = random.Random(31)
    alphabet = "abcd"
    corpus = [
        (i, " ".join(
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(0, 10))
        ))
        for i in range(30)
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    mdf = bpe_merges(df, n_merges=5)
    merges = [
        (r["left"], r["right"]) for r in mdf.orderBy("step").collect()
    ]
    got = {
        r["id"]: (list(r["syms"]), r["n_tokens"])
        for r in bpe_encode(df, mdf).collect()
    }
    for doc_id, text in corpus:
        want = []
        for w in text.lower().split():
            if w:
                want.extend(_bpe_seq_apply(w, merges))
        if not want:
            assert doc_id not in got
        else:
            assert got[doc_id] == (want, len(want)), doc_id


def test_anchor_text_agg_golden(spark):
    """Counts, distinct-source counts, tie-break ordering, top-k cut
    and per-node totals on a hand-built anchored edge list."""
    from walker_spark.operators.graph import anchor_text_agg

    edges = spark.createDataFrame(
        [
            # node 9: "buy" x3 (2 distinct srcs), "cheap" x2, "apex" x2 — tie
            (1, 9, "buy"), (1, 9, "buy"), (2, 9, "buy"),
            (3, 9, "cheap"), (4, 9, "cheap"),
            (5, 9, "apex"), (6, 9, "apex"),
            (7, 9, "rare"),
            # node 8: single anchor
            (1, 8, "home"),
        ],
        "src long, dst long, anchor string",
    )
    out = {
        (r["node"], r["rank"]): (r["anchor"], r["n_links"], r["n_src"], r["total_inlinks"])
        for r in anchor_text_agg(edges, k=3).collect()
    }
    assert out[(9, 1)] == ("buy", 3, 2, 8)
    # tie at 2 links: "apex" < "cheap" lexicographically
    assert out[(9, 2)] == ("apex", 2, 2, 8)
    assert out[(9, 3)] == ("cheap", 2, 2, 8)
    assert (9, 4) not in out  # "rare" cut by k=3
    assert out[(8, 1)] == ("home", 1, 1, 1)
    assert len(out) == 4


def test_text_normalize_golden(spark):
    """NFC composition (incl. combining-mark reordering), zero-width +
    control strip, whitespace collapse, ASCII fast path, code-point
    lengths — checked against pure-Python unicodedata on every case."""
    import re
    import unicodedata

    from walker_spark.operators.textstats import text_normalize

    cases = [
        "Café ​menu\tbody  text  fin\x07al  ",
        "plain ascii",
        "   \t\n  ",
        "ḍ̇ot",  # canonical reordering: dot-below before dot-above
        "Åring ﻿bom‌‍joined",
        "x\x00y\x1fz\x7fw",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )

    def ref(t):
        n = unicodedata.normalize("NFC", t)
        n = re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f​‌‍﻿]", "", n)
        return re.sub("[ \t\n\r]+", " ", n).strip()

    got = {r["id"]: r for r in text_normalize(df).collect()}
    for i, t in enumerate(cases):
        exp = ref(t)
        assert got[i]["text_norm"] == exp, (i, t)
        assert got[i]["n_raw"] == len(t)
        assert got[i]["n_norm"] == len(exp)
        assert got[i]["changed"] == (exp != t)


def test_grouped_percentiles_golden(spark):
    """Type-1 rank selection per group with ties and q endpoints."""
    from walker_spark.operators.textstats import grouped_percentiles

    df = spark.createDataFrame(
        [("a", v) for v in [1, 2, 2, 3, 10]] + [("b", v) for v in [5, 5, 5]],
        "g string, v long",
    )
    out = {
        (r["g"], r["q"]): (r["value"], r["rank"], r["n"])
        for r in grouped_percentiles(df, "g", "v", qs=(0.0, 0.5, 1.0)).collect()
    }
    # group a: n=5, targets floor(q*4)+1 = 1, 3, 5 -> values 1, 2, 10
    assert out[("a", 0.0)] == (1, 1, 5)
    assert out[("a", 0.5)] == (2, 3, 5)  # tie at 2: rank 3 still value 2
    assert out[("a", 1.0)] == (10, 5, 5)
    # group b: all equal
    assert out[("b", 0.0)] == (5, 1, 3)
    assert out[("b", 0.5)] == (5, 2, 3)
    assert out[("b", 1.0)] == (5, 3, 3)
    assert len(out) == 6


def test_stratified_split_quotas(spark):
    """Exact floor(f*n) quotas per stratum, rank is a 1..n bijection
    within each stratum, and the whole split is deterministic."""
    from pyspark.sql import functions as F

    from walker_spark.operators.curation import stratified_split

    docs = spark.range(1, 215).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).cast("string").alias("s")
    )
    out = stratified_split(
        docs, "s", "doc_id", fractions=(("test", 0.15), ("val", 0.1))
    ).collect()
    by_s = {}
    for r in out:
        by_s.setdefault(r["s"], []).append(r)
    assert sum(len(v) for v in by_s.values()) == 214
    for s_key, rows in by_s.items():
        n = len(rows)
        assert all(r["n"] == n for r in rows)
        assert sorted(r["rank"] for r in rows) == list(range(1, n + 1))
        counts = {}
        for r in rows:
            counts[r["split"]] = counts.get(r["split"], 0) + 1
        t, v = int(0.15 * n), int(0.1 * n)
        assert counts.get("test", 0) == t
        assert counts.get("val", 0) == v
        assert counts.get("train", 0) == n - t - v
        # the carve follows rank order exactly
        for r in rows:
            exp = "test" if r["rank"] <= t else ("val" if r["rank"] <= t + v else "train")
            assert r["split"] == exp
    again = stratified_split(
        docs, "s", "doc_id", fractions=(("test", 0.15), ("val", 0.1))
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_hamming_near_dups_golden(spark):
    """Pairs within the radius found, beyond-radius excluded."""
    from walker_spark.operators.multimodal import hamming_near_dups

    df = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 6), (3, (1 << 59) | (1 << 30) | 7)],
        "asset_id long, phash long",
    )
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_near_dups(df, max_hamming=2).collect()
    }
    # h0=0b000, h1=0b001 (d=1), h2=0b110 (d(0,2)=2, d(1,2)=3)
    assert out == {(0, 1): 1, (0, 2): 2}


def test_hamming_near_dups_matches_brute_force(spark):
    """Randomized parity: pigeonhole banding has exact recall at the
    radius, so the banded join must equal the all-pairs scan."""
    import random

    from walker_spark.operators.multimodal import hamming_near_dups

    rng = random.Random(42)
    base = [rng.getrandbits(60) for _ in range(40)]
    # plant near-dups: bit-flip variants at distances 1..4
    hashes = list(base)
    for i, h in enumerate(base[:12]):
        flipped = h
        for b in range(i % 4 + 1):
            flipped ^= 1 << ((i * 13 + b * 7) % 60)
        hashes.append(flipped)
    rows = [(i, h) for i, h in enumerate(hashes)]
    for radius in (1, 2, 3):
        expect = {
            (i, j): bin(hi ^ hj).count("1")
            for i, hi in rows
            for j, hj in rows
            if i < j and bin(hi ^ hj).count("1") <= radius
        }
        df = spark.createDataFrame(rows, "asset_id long, phash long")
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in hamming_near_dups(df, max_hamming=radius).collect()
        }
        assert got == expect, radius


def test_phash_assets_roundtrip(spark):
    """The stand-in hash is the first 15 md5 hex digits of the payload
    — non-negative, 60-bit, equal for byte-identical assets."""
    import hashlib

    from walker_spark.operators.multimodal import (
        assets_from_documents,
        decode_and_extract,
        phash_assets,
    )

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    out = {
        r["asset_id"]: r["phash"]
        for r in phash_assets(decode_and_extract(assets_from_documents(docs))).collect()
    }
    exp = int(hashlib.md5(b"same text").hexdigest()[:15], 16)
    assert out[1] == out[2] == exp
    assert out[3] == int(hashlib.md5(b"other").hexdigest()[:15], 16)
    assert all(0 <= v < (1 << 60) for v in out.values())


def test_unimax_allocation_properties(spark):
    """Waterfilling invariants on randomized source sizes: allocations
    are capped, sum exactly to min(budget, total capacity), and the
    uncapped sources split the leftover evenly (within the +1
    remainder spread)."""
    import random

    from pyspark.sql import functions as F

    from walker_spark.operators.curation import unimax_allocation

    rng = random.Random(7)
    for trial in range(4):
        sizes = {f"s{i:02d}": rng.randint(1, 400) for i in range(rng.randint(2, 9))}
        rows = [
            (i + 10_000 * k, src)
            for k, (src, n) in enumerate(sorted(sizes.items()))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        budget = rng.randint(50, 2 * sum(sizes.values()) + 100)
        epochs = rng.choice([1, 2, 4])
        out = {
            r["source"]: r
            for r in unimax_allocation(df, budget=budget, max_epochs=epochs).collect()
        }
        assert set(out) == set(sizes)
        total_cap = sum(n * epochs for n in sizes.values())
        for src, n in sizes.items():
            r = out[src]
            assert r["n_docs"] == n
            assert r["capacity"] == n * epochs
            assert 0 <= r["alloc"] <= r["capacity"]
            assert r["share_ppm"] == r["alloc"] * 1_000_000 // budget
        assert sum(r["alloc"] for r in out.values()) == min(budget, total_cap)
        uncapped = [r["alloc"] for r in out.values() if r["alloc"] < r["capacity"]]
        if uncapped:
            assert max(uncapped) - min(uncapped) <= 1
            # every capped source's capacity sits at/below the waterline
            capped = [r["capacity"] for r in out.values() if r["alloc"] == r["capacity"]]
            assert all(c <= max(uncapped) for c in capped) or not capped


def test_unimax_mix_epochs(spark):
    """Known three-source split: the tail source gets exactly
    max_epochs repeats per doc, subsampled sources carry e full epochs
    + an exact-threshold fractional epoch summing to their alloc
    (binomial, but deterministic given the ids); reruns identical."""
    from walker_spark.operators.curation import unimax_allocation, unimax_mix

    rows = (
        [(i, "web") for i in range(300)]
        + [(i + 1000, "books") for i in range(150)]
        + [(i + 5000, "wiki") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    alloc = {
        r["source"]: r["alloc"]
        for r in unimax_allocation(df, budget=500, max_epochs=2).collect()
    }
    assert alloc == {"wiki": 100, "books": 200, "web": 200}
    out = unimax_mix(df, budget=500, max_epochs=2).collect()
    wiki = [r for r in out if r["source"] == "wiki"]
    assert len(wiki) == 50 and all(r["n_repeats"] == 2 for r in wiki)
    books = [r for r in out if r["source"] == "books"]
    assert len(books) == 150 and all(r["n_repeats"] in (1, 2) for r in books)
    web = [r for r in out if r["source"] == "web"]
    assert all(r["n_repeats"] == 1 for r in web) and len(web) < 300
    again = unimax_mix(df, budget=500, max_epochs=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_novelty_scores_golden(spark):
    """Hand-computable trigram-type novelty: overlap counted on
    distinct gram TYPES, short docs emit no row, ppm is integer."""
    from walker_spark.operators.textstats import novelty_scores

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            # grams: "the quick brown", "quick brown fox" (both in ref),
            # "brown fox sleeps" (novel) -> 1/3 novel
            (1, "the quick brown fox sleeps"),
            # fully novel
            (2, "entirely new words here"),
            # repeated gram counts once as a type; both types in ref
            (3, "the quick brown the quick brown"),
            # too short for trigrams -> no row
            (4, "two words"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: (r["n_grams"], r["n_novel"], r["novelty_ppm"])
        for r in novelty_scores(docs, ref, n=3).collect()
    }
    assert out[1] == (3, 1, 333333)
    assert out[2] == (2, 2, 1000000)
    # doc 3 grams: {the quick brown, quick brown the, brown the quick} —
    # only the first is in ref
    assert out[3] == (3, 2, 666666)
    assert 4 not in out
    assert len(out) == 3


def test_source_overlap_golden(spark):
    """Hand-computed pairwise trigram-type Jaccard, ordering and
    integer-ppm contract."""
    from walker_spark.operators.textstats import source_overlap

    df = spark.createDataFrame(
        [
            # src a grams: {x y z, y z w}
            (1, "a", "x y z w"),
            # src b grams: {x y z} (shared with a), {p q r}
            (2, "b", "x y z"),
            (3, "b", "p q r"),
            # src c: disjoint
            (4, "c", "m n o"),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        (r["source_a"], r["source_b"]): (
            r["grams_a"], r["grams_b"], r["common"], r["jaccard_ppm"]
        )
        for r in source_overlap(df, n=3).collect()
    }
    assert out[("a", "b")] == (2, 2, 1, 333333)  # 1 / (2+2-1)
    # disjoint pairs are OMITTED (sparse matrix contract)
    assert ("a", "c") not in out and ("b", "c") not in out
    assert len(out) == 1


def test_quantile_filter_golden(spark):
    """Inclusive per-group trim at exact type-1 cut values; ties at
    the cut survive; groups trim independently."""
    from walker_spark.operators.textstats import quantile_filter

    rows = [("a", i, v) for i, v in enumerate([1, 2, 2, 3, 50, 60, 70, 80, 90, 100])]
    rows += [("b", 100 + i, v) for i, v in enumerate([5, 6, 7])]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    out = quantile_filter(df, "g", "v", lo_q=0.1, hi_q=0.9).collect()
    a = sorted(r["v"] for r in out if r["g"] == "a")
    # n=10: lo rank floor(.1*9)+1=1 -> value 1; hi rank floor(.9*9)+1=9 -> 90
    assert a == [1, 2, 2, 3, 50, 60, 70, 80, 90]
    for r in out:
        if r["g"] == "a":
            assert (r["lo_value"], r["hi_value"]) == (1, 90)
    b = sorted(r["v"] for r in out if r["g"] == "b")
    # n=3: lo rank floor(.1*2)+1=1 -> 5; hi rank floor(.9*2)+1=2 -> 6
    assert b == [5, 6]


def test_prepare_training_data_end_to_end(spark):
    """Every stage acts on a hand-built corpus: quality drops the junk
    doc, exact dedup keeps the min-id twin, decontamination drops the
    benchmark-leaking doc, the mixture keeps everything under a big
    budget, and shard ids follow the global token prefix sum."""
    from walker_spark.operators.curation import prepare_training_data

    good = "the quick brown fox jumps over the lazy dog today."
    leak = "alpha beta gamma delta epsilon zeta eta theta iota done."
    docs = spark.createDataFrame(
        [
            (1, "A", good),
            (2, "A", good),          # exact duplicate -> dropped (keeper=1)
            (3, "B", leak),          # shares a 4-gram with the benchmark
            (4, "B", "x"),           # fails every quality gate
            (5, "B", "many fine words arrive in order and finish cleanly here."),
        ],
        "doc_id long, source string, text string",
    )
    bench = spark.createDataFrame(
        [(100, "Z", "alpha beta gamma delta question mark.")],
        "doc_id long, source string, text string",
    )
    out = {
        r["id"]: (r["source"], r["n_tokens"], r["shard_id"])
        for r in prepare_training_data(
            docs,
            bench,
            budget_docs=100,          # p clamps to 1 -> mixture keeps all
            shard_tokens=12,
            decontam_ngram=4,
            quality=dict(
                c4_min_line_words=3,
                c4_min_sentences=1,
                min_stop_hits=0,
                gopher_min_words=5,
                min_prob=0.0,         # disarm the hash classifier here
            ),
        ).collect()
    }
    assert set(out) == {1, 5}
    assert out[1] == ("A", 10, 0)
    # doc 5: 10 tokens, prefix 10 -> shard 10 div 12 = 0
    assert out[5] == ("B", 10, 0)


def test_personalized_pagerank_chain(spark):
    """Hand-computed 3-node chain (1 -> 2 -> 3, 3 dangling, seed {1}):
    teleport + dangling mass deposit on the seed only; exact integer
    micro-units at every iteration."""
    import pytest as _pytest

    from walker_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {
        r["node"]: r["rank_micro"]
        for r in personalized_pagerank(edges, seeds, iterations=3).collect()
    }
    # r1 = {1: 150000, 2: 850000, 3: 0}
    # r2 = {1: 150000, 2: 127500, 3: 722500}
    # r3: dangling 722500 -> seed share (722500*17) div 20 = 614125
    assert out == {1: 150000 + 614125, 2: 127500, 3: 108375}
    with _pytest.raises(ValueError):
        personalized_pagerank(
            edges, spark.createDataFrame([(99,)], "node long"), iterations=1
        ).collect()


def test_warc_roundtrip(spark, tmp_path):
    """WARC write -> read roundtrip, plain and per-record gzip:
    record framing, HTTP status/mime extraction, body payload bytes,
    multi-member gzip decode."""
    from walker_spark.sources.warc import build_warc_bytes, read_warc

    recs = [
        ("http://a.example/1", "2024-01-01T00:00:00Z", 200, "text/html",
         b"<html>hello</html>"),
        ("http://a.example/2", "2024-01-01T00:00:01Z", 404, "text/plain",
         b"gone"),
        ("http://a.example/3", "2024-01-01T00:00:02Z", 200, "text/html",
         b"body with \r\n\r\n inside"),
    ]
    (tmp_path / "a.warc").write_bytes(build_warc_bytes(recs))
    (tmp_path / "b.warc.gz").write_bytes(build_warc_bytes(recs, gzip_members=True))
    for fname in ("a.warc", "b.warc.gz"):
        out = {
            r["url"]: r
            for r in read_warc(spark, str(tmp_path / fname)).collect()
        }
        assert len(out) == 3, fname
        for url, _d, status, mime, body in recs:
            r = out[url]
            assert r["record_type"] == "response"
            assert r["http_status"] == status
            assert r["mime"] == mime
            assert bytes(r["payload"]) == body
            assert r["n_bytes"] == len(body)


def test_warc_export_sink(spark, tmp_path):
    """Distributed write_warc: one shard per non-empty partition,
    atomic rename (no .tmp leftovers), manifest totals, warc_date
    passthrough, and full read-back parity in both gzip and plain
    modes."""
    from pyspark.sql import functions as F

    from walker_spark.sources.warc import read_warc, write_warc

    df = (
        spark.range(0, 37)
        .select(
            F.concat(F.lit("http://s.test/"), F.col("id").cast("string")).alias(
                "url"
            ),
            F.lit(200).alias("http_status"),
            F.lit("text/plain").alias("mime"),
            F.encode(
                F.concat(F.lit("body-"), F.col("id").cast("string")), "UTF-8"
            ).alias("payload"),
            F.concat(
                F.lit("2024-02-0"),
                (F.col("id") % 9 + 1).cast("string"),
                F.lit("T00:00:00Z"),
            ).alias("warc_date"),
        )
        # 5 hash partitions of 37 rows: some partitions may be empty
        .repartition(5, "url")
    )
    for gz in (True, False):
        out = tmp_path / ("gz" if gz else "plain")
        manifest = write_warc(df, str(out), gzip_members=gz).collect()
        files = sorted(p.name for p in out.iterdir())
        assert all(not n.endswith(".tmp") for n in files)
        assert sorted(m["warc_file"].rsplit("/", 1)[1] for m in manifest) == files
        assert sum(m["n_records"] for m in manifest) == 37
        back = {r["url"]: r for r in read_warc(spark, str(out)).collect()}
        assert len(back) == 37
        for i in range(37):
            r = back[f"http://s.test/{i}"]
            assert bytes(r["payload"]) == f"body-{i}".encode()
            assert r["warc_date"] == f"2024-02-0{i % 9 + 1}T00:00:00Z"
        assert sum(m["payload_bytes"] for m in manifest) == sum(
            len(f"body-{i}") for i in range(37)
        )


# ---------------------------------------------------------------------------
# triangle counting (degree-ordered node-iterator)
# ---------------------------------------------------------------------------


def _py_triangles(edge_list):
    import itertools

    adj = {}
    es = set()
    for s, d in edge_list:
        if s == d:
            continue
        u, v = min(s, d), max(s, d)
        if (u, v) in es:
            continue
        es.add((u, v))
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = {n: 0 for n in adj}
    for u, v in es:
        for w in adj[u] & adj[v]:
            if w > v:  # count each triangle once at its max vertex pair
                tri[u] += 1
                tri[v] += 1
                tri[w] += 1
    return {n: (len(adj[n]), tri[n]) for n in adj}


def test_triangle_counts_random_parity(spark):
    import random

    from walker_spark.operators.graph import triangle_counts

    rng = random.Random(11)
    # dense-ish so triangles are plentiful, plus dups/self-loops/both
    # directions to exercise canonicalization
    edge_list = [
        (rng.randint(0, 39), rng.randint(0, 39)) for _ in range(400)
    ]
    edge_list += [(b, a) for a, b in edge_list[:50]] + edge_list[:30]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r["node"]: (r["degree"], r["triangles"])
        for r in triangle_counts(df).collect()
    }
    assert got == _py_triangles(edge_list)
    assert sum(t for _, t in got.values()) % 3 == 0  # each tri counted 3x


def test_triangle_counts_star_has_none(spark):
    from walker_spark.operators.graph import triangle_counts

    # a pure star: the hub is exactly the curse-of-the-last-reducer
    # shape — no triangles anywhere
    df = spark.createDataFrame(
        [(0, i) for i in range(1, 20)], "src long, dst long"
    )
    rows = triangle_counts(df).collect()
    assert all(r["triangles"] == 0 for r in rows)
    assert {r["node"]: r["degree"] for r in rows}[0] == 19


# ---------------------------------------------------------------------------
# PMI collocations (exact-integer lift ranking)
# ---------------------------------------------------------------------------


def _py_pmi(texts, min_count, top_k):
    import re
    from collections import Counter

    uni, bi = Counter(), Counter()
    for txt in texts:
        ts = re.sub(r"\s+", " ", txt.lower()).strip().split(" ")
        if ts == [""]:
            continue
        uni.update(ts)
        bi.update(zip(ts, ts[1:]))
    n, b = sum(uni.values()), sum(bi.values())
    rows = [
        (w1, w2, c, uni[w1], uni[w2], c * n * n * 1_000_000 // (b * uni[w1] * uni[w2]))
        for (w1, w2), c in bi.items()
        if c >= min_count
    ]
    rows.sort(key=lambda r: (-r[5], r[0], r[1]))
    return rows[:top_k]


def test_pmi_collocations_random_parity(spark):
    import random

    from walker_spark.operators.textstats import pmi_collocations

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(25)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for _ in range(120)
    ]
    # plant a strong collocation: rare pair that always co-occurs
    texts += ["xx yy"] * 4
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        tuple(r)
        for r in pmi_collocations(df, min_count=2, top_k=40).collect()
    ]
    want = _py_pmi(texts, 2, 40)
    assert got == want
    assert got[0][:2] == ("xx", "yy")  # the planted pair tops the list


def test_pmi_collocations_validates(spark):
    from walker_spark.operators.textstats import pmi_collocations

    df = spark.createDataFrame([("a b",)], "text string")
    with pytest.raises(ValueError):
        pmi_collocations(df, min_count=0)


# ---------------------------------------------------------------------------
# edit-distance near-dup pairs (PassJoin)
# ---------------------------------------------------------------------------


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_dup_pairs_random_parity(spark):
    import itertools
    import random

    rng = random.Random(31)

    def mutate(s, n_ops):
        s = list(s)
        for _ in range(n_ops):
            op = rng.choice("sid")
            p = rng.randrange(len(s)) if s else 0
            if op == "s" and s:
                s[p] = rng.choice("abcde")
            elif op == "i":
                s.insert(p, rng.choice("abcde"))
            elif s:
                del s[p]
        return "".join(s)

    base = ["".join(rng.choice("abcde") for _ in range(rng.randint(6, 18)))
            for _ in range(40)]
    rows = []
    for i, b in enumerate(base):
        rows.append((i * 10, b))
        rows.append((i * 10 + 1, mutate(b, rng.randint(1, 2))))  # near dup
        rows.append((i * 10 + 2, mutate(b, 6)))  # usually far
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dedup.edit_dup_pairs(df, max_edit=2).collect()
    }
    texts = dict(rows)
    want = {
        (a, b): _lev(texts[a], texts[b])
        for a, b in itertools.combinations(sorted(texts), 2)
        if _lev(texts[a], texts[b]) <= 2
    }
    assert got == want
    assert len(got) >= 40  # every planted near-dup found

    with pytest.raises(ValueError):
        dedup.edit_dup_pairs(df, max_edit=0)


# ---------------------------------------------------------------------------
# hop distances (frontier BFS), k-core peel, host graph collapse
# ---------------------------------------------------------------------------


def _py_bfs(edge_list, seeds, max_hops):
    adj = {}
    for s, d in edge_list:
        adj.setdefault(s, set()).add(d)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for hop in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = hop
        if not nxt:
            break
        frontier = nxt
    return dist


def test_hop_distances_random_parity(spark):
    import random

    from walker_spark.operators.graph import hop_distances

    rng = random.Random(23)
    edge_list = [(rng.randint(0, 59), rng.randint(0, 59)) for _ in range(150)]
    edge_list += edge_list[:20]  # duplicates are harmless
    seeds = [0, 7, 7, 13]  # duplicate seed too
    got = {
        r["node"]: r["hops"]
        for r in hop_distances(
            spark.createDataFrame(edge_list, "src long, dst long"),
            spark.createDataFrame([(s,) for s in seeds], "node long"),
            max_hops=10,
        ).collect()
    }
    assert got == _py_bfs(edge_list, set(seeds), 10)


def test_hop_distances_chain_cap_and_early_stop(spark):
    from walker_spark.operators.graph import hop_distances

    # a directed chain 0->1->...->9: cap at 3 hops reaches 0..3 only
    chain = [(i, i + 1) for i in range(9)]
    e = spark.createDataFrame(chain, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["hops"] for r in hop_distances(e, seeds, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    # full depth: early-stops once the chain end is settled
    got = {r["node"]: r["hops"] for r in hop_distances(e, seeds, max_hops=50).collect()}
    assert got == {i: i for i in range(10)}


def _py_kcore(edge_list, k):
    es = {(min(a, b), max(a, b)) for a, b in edge_list if a != b}
    while True:
        deg = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            return deg
        es = {(u, v) for u, v in es if u not in drop and v not in drop}
        if not es:
            return {}


def test_kcore_random_parity(spark):
    import random

    from walker_spark.operators.graph import kcore

    rng = random.Random(31)
    for k in (2, 3, 4):
        edge_list = [(rng.randint(0, 39), rng.randint(0, 39)) for _ in range(180)]
        edge_list += [(b, a) for a, b in edge_list[:30]] + [(5, 5)]
        got = {
            r["node"]: r["degree"]
            for r in kcore(
                spark.createDataFrame(edge_list, "src long, dst long"), k=k
            ).collect()
        }
        assert got == _py_kcore(edge_list, k)


def test_kcore_peel_cascade(spark):
    from walker_spark.operators.graph import kcore

    # triangle {0,1,2} with a pendant chain 2-3-4: 2-core peels the
    # chain in TWO rounds (4 first, then 3) — the cascade case
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    got = {
        r["node"]: r["degree"]
        for r in kcore(
            spark.createDataFrame(edges, "src long, dst long"), k=2
        ).collect()
    }
    assert got == {0: 2, 1: 2, 2: 2}
    # k=4: everything peels, empty result
    assert (
        kcore(spark.createDataFrame(edges, "src long, dst long"), k=4).count() == 0
    )


def test_host_graph_collapse(spark):
    from walker_spark.operators.graph import host_graph

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (2, 1)], "src long, dst long"
    )
    hosts = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "node long, host string"
    )
    got = {
        (r["src_host"], r["dst_host"]): r["weight"]
        for r in host_graph(edges, hosts).collect()
    }
    # 1->2 is intra-host (a->a) and dropped; a->b twice (1->3, 2->3)
    assert got == {("a", "b"): 2, ("b", "a"): 1}


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (integer-quantized idf)
# ---------------------------------------------------------------------------


def _py_tfidf(texts, top_k, min_df):
    import math

    docs = {i: [t for t in " ".join(s.lower().split()).split(" ") if t]
            for i, s in texts}
    docs = {i: t for i, t in docs.items() if t}
    n = len(docs)
    df = {}
    for toks in docs.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    out = {}
    for i, toks in docs.items():
        tf = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        scored = [
            (t, c, c * math.floor(math.log(n / df[t]) * 1_000_000 + 0.5))
            for t, c in tf.items()
            if df[t] >= min_df
        ]
        scored.sort(key=lambda x: (-x[2], x[0]))
        out[i] = [
            (t, c, s, r + 1) for r, (t, c, s) in enumerate(scored[:top_k])
        ]
    return out


def test_tfidf_keywords_random_parity(spark):
    import random

    from walker_spark.operators.textstats import tfidf_keywords

    rng = random.Random(47)
    vocab = [f"w{i}" for i in range(30)]
    texts = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(3, 25))))
        for i in range(40)
    ] + [(40, "   "), (41, "")]  # empty docs drop out
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in tfidf_keywords(df, top_k=4, min_df=2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["term"], r["tf"], r["score_micro"], r["rank"])
        )
    for k in got:
        got[k].sort(key=lambda x: x[3])
    ref = _py_tfidf(texts, 4, 2)
    ref = {k: v for k, v in ref.items() if v}
    assert got == ref


def test_tfidf_ubiquitous_term_scores_zero(spark):
    from walker_spark.operators.textstats import tfidf_keywords

    # 'the' appears in every doc => idf = ln(1) = 0 => score 0, ranked
    # below any distinctive term
    df = spark.createDataFrame(
        [(1, "the cat"), (2, "the dog"), (3, "the the bird")],
        "doc_id long, text string",
    )
    rows = tfidf_keywords(df, top_k=2, min_df=1).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["term"]] = (r["score_micro"], r["rank"])
    assert by_doc[1]["the"][0] == 0 and by_doc[1]["cat"][1] == 1
    assert by_doc[3]["the"][0] == 0


# ---------------------------------------------------------------------------
# mutual kNN graph (ivf-cell blocked)
# ---------------------------------------------------------------------------


def _py_knn_graph(vecs, k, n_cells):
    import math

    ids = sorted(vecs)
    cents = [vecs[i] for i in ids[:n_cells]]

    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    cell = {
        i: min(range(len(cents)), key=lambda c: (sq(vecs[i], cents[c]), c))
        for i in ids
    }

    def cos3(a, b):
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        return round(sum(x * y for x, y in zip(a, b)) / n, 3)

    knn = set()
    for i in ids:
        cands = [
            (-cos3(vecs[i], vecs[j]), j) for j in ids if j != i and cell[j] == cell[i]
        ]
        cands.sort()
        for _, j in cands[:k]:
            knn.add((i, j))
    return {
        (min(a, b), max(a, b), cos3(vecs[min(a, b)], vecs[max(a, b)]))
        for a, b in knn
        if (b, a) in knn
    }


def test_knn_graph_random_parity(spark):
    import random

    from walker_spark.operators.similarity import knn_graph

    rng = random.Random(53)
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(60)
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {
        (r["id_a"], r["id_b"], r["score"])
        for r in knn_graph(df, k=3, n_cells=4).collect()
    }
    assert got == _py_knn_graph(vecs, 3, 4)
    # structural invariants: undirected canonical order, mutuality
    assert all(a < b for a, b, _ in got)


def test_knn_graph_mutual_filter_drops_one_way(spark):
    from walker_spark.operators.similarity import knn_graph

    # hub h is nearest to both outliers, but h's k=1 budget goes to
    # the closer one — the other's edge is one-way and must drop
    vecs = [
        (0, [1.0, 0.0]),     # h
        (1, [0.9, 0.1]),     # close to h
        (2, [0.5, 0.5]),     # farther; nearest is still h
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]) for r in knn_graph(df, k=1, n_cells=1).collect()}
    assert got == {(0, 1)}


def test_hard_negatives_random_parity_and_threshold(spark):
    import math
    import random

    from walker_spark.operators.similarity import hard_negatives

    rng = random.Random(71)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(60)}
    # plant a near-duplicate of vec 0: must be EXCLUDED as a negative
    vecs[60] = [x * 1.001 for x in vecs[0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    thr, k, n_cells = 0.5, 3, 4
    got = {
        (r["anchor_id"], r["neg_id"], r["score"])
        for r in hard_negatives(
            df, k=k, dup_threshold=thr, n_cells=n_cells
        ).collect()
    }

    # pure-python reference: same ivf blocking, same round-3 ranking
    ids = sorted(vecs)
    cents = [vecs[i] for i in ids[:n_cells]]

    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    cell = {
        i: min(range(len(cents)), key=lambda c: (sq(vecs[i], cents[c]), c))
        for i in ids
    }

    def cos3(a, b):
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        return round(sum(x * y for x, y in zip(a, b)) / n, 3)

    exp = set()
    for i in ids:
        cands = sorted(
            (-cos3(vecs[i], vecs[j]), j)
            for j in ids
            if j != i and cell[j] == cell[i] and cos3(vecs[i], vecs[j]) < thr
        )
        exp.update((i, j, -s) for s, j in cands[:k])
    assert got == exp
    # the planted near-dup never appears as anyone's negative, and
    # every emitted score is strictly below the threshold
    assert all(s < thr for _, _, s in got)
    if cell[0] == cell[60]:
        assert (0, 60) not in {(a, b) for a, b, _ in got}


# ---------------------------------------------------------------------------
# Flesch reading-ease (integer milli-units)
# ---------------------------------------------------------------------------


def _py_fre(texts):
    import re

    out = {}
    for i, t in texts:
        w = len([x for x in " ".join(t.lower().split()).split(" ") if x])
        if w == 0:
            continue
        s = max(len(re.findall(r"[.!?]+", t)), 1)
        y = len(re.findall(r"[aeiouy]+", t.lower()))
        out[i] = (
            w, s, y,
            206_835 - (1_015 * w) // s - (84_600 * y) // w,
        )
    return out


def test_readability_random_parity(spark):
    import random

    from walker_spark.operators.textstats import readability_scores

    rng = random.Random(67)
    words = ["the", "extraordinary", "cat", "sat!", "beautiful.", "a?", "xylophone", "rhythm"]
    texts = [
        (i, " ".join(rng.choices(words, k=rng.randint(1, 40))))
        for i in range(40)
    ] + [(40, ""), (41, "   ")]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_words"], r["n_sentences"], r["n_syllables"], r["fre_milli"])
        for r in readability_scores(df).collect()
    }
    assert got == _py_fre(texts)


def test_readability_simple_beats_dense(spark):
    from walker_spark.operators.textstats import readability_scores

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran. It was fun."),
            (2, "Extraordinarily sophisticated considerations notwithstanding implementation"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["fre_milli"] for r in readability_scores(df).collect()}
    assert got[1] > got[2]
    # rhythm/consonant-only words still count >= 0 syllables; no crash
    assert readability_scores(
        spark.createDataFrame([(3, "brr grr")], "doc_id long, text string")
    ).first()["n_syllables"] == 0


def test_embedding_communities_parity_and_singletons(spark):
    import random

    from walker_spark.operators.similarity import embedding_communities

    rng = random.Random(71)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(50)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    edges = _py_knn_graph(vecs, 3, 4)
    # union-find closure of the mutual edges
    parent = {i: i for i in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ref = {i: min(j for j in vecs if find(j) == find(i)) for i in vecs}
    got = {
        r["vec_id"]: r["community_id"]
        for r in embedding_communities(df, k=3, n_cells=4).collect()
    }
    assert got == ref
    # every vector labeled; singletons label themselves
    assert set(got) == set(vecs)
    singles = {i for i in vecs if all(i not in (a, b) for a, b, _ in edges)}
    assert all(got[i] == i for i in singles)


def test_embedding_communities_edges_reuse_parity(spark):
    import random

    from walker_spark.operators.similarity import (
        embedding_communities,
        knn_graph,
    )

    rng = random.Random(73)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    full = {
        (r["vec_id"], r["community_id"])
        for r in embedding_communities(df, k=3, n_cells=4).collect()
    }
    pre = knn_graph(df, k=3, n_cells=4).localCheckpoint()
    reused = {
        (r["vec_id"], r["community_id"])
        for r in embedding_communities(df, edges=pre).collect()
    }
    assert full == reused


def test_resolve_redirects_chains_cycles_and_limit(spark):
    from walker_spark.operators.graph import resolve_redirects

    # chain 10->11->12->13 (terminal), 2-cycle 20<->21, self-loop 30,
    # long chain 40..47 (7 hops, over a max_hops=5 limit),
    # duplicate src rows 50 -> {51, 52} collapse to min dst 51 (terminal).
    edges = [(10, 11), (11, 12), (12, 13), (20, 21), (21, 20), (30, 30)]
    edges += [(40 + i, 41 + i) for i in range(7)] + [(50, 52), (50, 51)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["url"]: (r["final_url"], r["n_hops"], r["resolved"])
        for r in resolve_redirects(df, max_hops=5).collect()
    }
    assert got[10] == (13, 3, True)
    assert got[11] == (13, 2, True)
    assert got[12] == (13, 1, True)
    assert got[20] == (None, None, False)  # cycle
    assert got[21] == (None, None, False)
    assert got[30] == (None, None, False)  # self-loop
    assert got[40] == (None, None, False)  # 7 hops > 5
    assert got[42] == (47, 5, True)        # exactly at the limit
    assert got[50] == (51, 1, True)        # min-dst collapse
    assert len(got) == len({s for s, _ in edges})


def test_resolve_redirects_matches_python_walk(spark):
    import random

    from walker_spark.operators.graph import resolve_redirects

    rng = random.Random(7)
    nodes = list(range(200))
    # functional graph: ~60% of nodes redirect somewhere (incl. possible
    # cycles); the rest are terminal targets only.
    ptr = {n: rng.randrange(250) for n in nodes if rng.random() < 0.6}
    max_hops = 10

    def walk(s):
        cur, n = s, 0
        while cur in ptr and n <= max_hops:
            cur, n = ptr[cur], n + 1
        if cur in ptr or n > max_hops:
            return (None, None, False)
        return (cur, n, True)

    expected = {s: walk(s) for s in ptr}
    df = spark.createDataFrame(list(ptr.items()), "src long, dst long")
    got = {
        r["url"]: (r["final_url"], r["n_hops"], r["resolved"])
        for r in resolve_redirects(df, max_hops=max_hops).collect()
    }
    assert got == expected


def test_quality_keeper_argmax_ties_and_missing_scores(spark):
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)],
        "doc_id long, cluster_id long",
    )
    # cluster 1: 3 wins on score; cluster 10: tie -> min id 10;
    # cluster 20: no scores at all -> min id 20.
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 11), (10, 7), (11, 7)], "doc_id long, score long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in dedup.quality_keeper(comps, scores).collect()
    }
    assert got == {
        1: (1, False), 2: (1, False), 3: (1, True),
        10: (10, True), 11: (10, False),
        20: (20, True), 21: (20, False),
    }


def test_quality_keeper_unscored_never_beats_scored(spark):
    comps = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, cluster_id long")
    scores = spark.createDataFrame([(2, 1)], "doc_id long, score long")
    got = {r["doc_id"]: r["is_keeper"] for r in dedup.quality_keeper(comps, scores).collect()}
    assert got == {1: False, 2: True}


def test_host_boilerplate_matches_python_reference(spark):
    import hashlib

    from walker_spark.operators import textstats

    template = "welcome to the example site home products about contact"
    rows = [
        (i, f"{template} unique content number {i} talks about topic {i * 7}", "hostA")
        for i in range(1, 5)
    ]
    rows += [
        (10, "tiny host page one with some words here", "hostB"),
        (11, "tiny host page two with some words here", "hostB"),  # < min_docs
        (20, "short", "hostC"),  # < n tokens: no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["doc_id"]: (r["host"], r["n_grams"], r["n_boiler"], r["boiler_ppm"])
        for r in textstats.host_boilerplate(df, n=3, min_docs=3).collect()
    }

    def grams(text):
        t = " ".join(text.lower().split()).split(" ")
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)} if len(t) >= 3 else set()

    by_host = {}
    for _id, text, host in rows:
        for g in grams(text):
            by_host.setdefault(host, {}).setdefault(g, set()).add(_id)
    n_docs = {}
    for _id, _, host in rows:
        n_docs[host] = n_docs.get(host, 0) + 1
    expected = {}
    for _id, text, host in rows:
        gs = grams(text)
        if not gs:
            continue
        boiler = {
            g
            for g in gs
            if n_docs[host] >= 3
            and len(by_host[host][g]) * 1_000_000 >= 500_000 * n_docs[host]
        }
        expected[_id] = (host, len(gs), len(boiler), len(boiler) * 1_000_000 // len(gs))
    assert got == expected
    # the planted template really flags: every hostA doc has boiler grams
    assert all(got[i][2] > 0 for i in range(1, 5))
    assert got[10][2] == 0 and got[11][2] == 0  # min_docs guard
    assert 20 not in got


def test_retract_postings_index_equals_rebuild(spark):
    """retract(build(A u B), B) is bit-identical to build(A): every
    index table row-for-row, and the served result; retracting an
    absent id is a no-op."""
    from pyspark.sql import functions as F

    from walker_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_postings_index,
        retract_postings_index,
    )

    corpus = [
        (0, "spark shuffle join spark spark"),
        (1, "shuffle partition skew"),
        (2, "join broadcast join small table"),
        (3, "window rank dense rank"),
        (4, "spark window shuffle join broadcast"),
        (5, "rank appears only here exactly once skewqueue"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    full = build_postings_index(docs)
    # retract 1, 3, 5 (5 holds the sole 'skewqueue' posting -> that
    # term must vanish from dfreq) plus an id never indexed (999).
    gone = spark.createDataFrame([(1,), (3,), (5,), (999,)], "doc_id long")
    retracted = retract_postings_index(full, gone)
    rebuilt = build_postings_index(docs.filter(~F.col("doc_id").isin(1, 3, 5)))

    for a, b in (
        (retracted.postings, rebuilt.postings),
        (retracted.dfreq, rebuilt.dfreq),
        (retracted.stats, rebuilt.stats),
    ):
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert retracted.dfreq.filter("term = 'skewqueue'").count() == 0

    qdf = spark.createDataFrame(
        [(0, "spark join"), (1, "window rank")], "query_id int, query string"
    )
    served = sorted(map(tuple, bm25_topk_indexed(retracted, qdf, k=3).collect()))
    direct = sorted(map(tuple, bm25_topk_indexed(rebuilt, qdf, k=3).collect()))
    assert served == direct


def _py_lpa(edge_list, iterations):
    """Synchronous LPA reference: most-frequent neighbor label, min
    label on ties, early stop on convergence (idempotent)."""
    import collections

    adj = collections.defaultdict(set)
    for a, b in edge_list:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    lab = {n: n for n in adj}
    for _ in range(iterations):
        new = {}
        for n in adj:
            c = collections.Counter(lab[m] for m in adj[n])
            mx = max(c.values())
            new[n] = min(l for l, k in c.items() if k == mx)
        if new == lab:
            break
        lab = new
    return lab


def test_lpa_two_triangles_bridge(spark):
    from walker_spark.operators.graph import lpa_communities

    # two triangles joined by one bridge: exactly two communities,
    # labeled by each triangle's min node
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    got = {
        r["node"]: r["label"]
        for r in lpa_communities(
            spark.createDataFrame(edges, "src long, dst long"), iterations=6
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_lpa_random_parity(spark):
    import random

    from walker_spark.operators.graph import lpa_communities

    rng = random.Random(47)
    for trial in range(3):
        edge_list = [
            (rng.randint(0, 29), rng.randint(0, 29)) for _ in range(90)
        ] + [(7, 7)]
        got = {
            r["node"]: r["label"]
            for r in lpa_communities(
                spark.createDataFrame(edge_list, "src long, dst long"),
                iterations=4,
            ).collect()
        }
        assert got == _py_lpa(edge_list, 4), f"trial {trial}"


def test_lpa_fixed_rounds_are_the_semantics(spark):
    from walker_spark.operators.graph import lpa_communities

    # a 4-cycle oscillates under synchronous LPA: round counts with
    # different parity give different labelings, and each must equal
    # the reference at the same round count (fixed rounds ARE the
    # contract; the oracle unrolls the same count)
    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    for iters in (1, 2):
        got = {
            r["node"]: r["label"]
            for r in lpa_communities(
                spark.createDataFrame(edges, "src long, dst long"),
                iterations=iters,
            ).collect()
        }
        assert got == _py_lpa(edges, iters), iters


def _py_entropy_micro(items):
    # the operator's exact integer contract: qlog(x) = floor(ln(x)*1e6
    # + 0.5) per histogram term, H_micro = (n*qlog(n) - sum c*qlog(c))
    # div n (numerator non-negative because qlog is monotone, so
    # Python // == Spark div here)
    import math
    from collections import Counter

    n = len(items)
    if n == 0:
        return 0
    qlog = lambda x: math.floor(math.log(x) * 1e6 + 0.5)
    s = sum(c * qlog(c) for c in Counter(items).values())
    return (n * qlog(n) - s) // n


def test_entropy_scores_random_parity(spark):
    import random
    import re

    from walker_spark.operators.textstats import entropy_scores

    rng = random.Random(73)
    words = ["the", "cat", "sat", "aa", "zzz", "é", "mat!", "x"]
    texts = [
        (i, " ".join(rng.choices(words, k=rng.randint(1, 30))))
        for i in range(30)
    ] + [(30, ""), (31, "   "), (32, "aaaa"), (33, "a\tb\nc  d")]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_chars"],
            r["char_entropy_micro"],
            r["n_tokens"],
            r["distinct_tokens"],
            r["token_entropy_micro"],
        )
        for r in entropy_scores(df).collect()
    }
    for i, t in texts:
        chars = list(t)
        toks = [w for w in re.split(r"\s+", t) if w]
        assert got[i] == (
            len(chars),
            _py_entropy_micro(chars),
            len(toks),
            len(set(toks)),
            _py_entropy_micro(toks),
        ), i


def test_entropy_scores_orders_degenerate_below_diverse(spark):
    from walker_spark.operators.textstats import entropy_scores

    # keyboard-mash / single-char boilerplate scores LOWER entropy
    # than natural-looking text of the same length — the RedPajama-v2
    # signal's whole point
    df = spark.createDataFrame(
        [(0, "aaaaaaaaaaaaaaaaaaaa"), (1, "the quick brown fox!")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["char_entropy_micro"]
        for r in entropy_scores(df).collect()
    }
    assert got[0] == 0 and got[1] > 0


def test_blocklist_tags_counts_and_overlap(spark):
    from walker_spark.operators.textstats import blocklist_tags

    docs = spark.createDataFrame(
        [
            (0, "Bad  Apple and bad apple pie"),
            (1, "bad bad bad"),
            (2, "clean text only here"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    lex = spark.createDataFrame(
        [
            ("fruit", "bad apple"),
            ("fruit", "BAD  APPLE"),  # normalization dup -> collapses
            ("fruit", "pie"),
            ("rep", "bad bad"),
            ("never", "zz qq"),
        ],
        "tag string, phrase string",
    )
    got = {
        (r["doc_id"], r["tag"]): (
            r["n_phrases"], r["n_hits"], r["hit_tokens"], r["hits_ppm"]
        )
        for r in blocklist_tags(docs, lex).collect()
    }
    # doc 0 (6 tokens): 'bad apple' x2 + 'pie' x1 -> 2 phrases, 3 hits,
    # 5 tokens covered
    assert got[(0, "fruit")] == (2, 3, 5, 5 * 1_000_000 // 6)
    # doc 1 (3 tokens): OVERLAPPING 'bad bad' hits both count ->
    # hit_tokens 4 > n_tokens 3, ppm past 1e6 (documented contract)
    assert got[(1, "rep")] == (1, 2, 4, 4 * 1_000_000 // 3)
    # sparse: clean/empty docs and the never-matching tag are absent
    assert set(got) == {(0, "fruit"), (1, "rep")}


def test_blocklist_tags_empty_lexicon(spark):
    from walker_spark.operators.textstats import blocklist_tags

    docs = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
    lex = spark.createDataFrame([("t", "  ")], "tag string, phrase string")
    out = blocklist_tags(docs, lex)
    assert out.count() == 0
    assert out.columns == [
        "doc_id", "tag", "n_phrases", "n_hits", "hit_tokens", "hits_ppm"
    ]


# ---------------------------------------------------------------------------
# bitext margin mining
# ---------------------------------------------------------------------------


def _py_bitext(vecs, sides, k, n_cells, thr=1_000_000):
    import math

    ids = sorted(vecs)
    cents = [vecs[i] for i in ids[:n_cells]]

    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    cell = {
        i: min(range(len(cents)), key=lambda c: (sq(vecs[i], cents[c]), c))
        for i in ids
    }

    def c_mil(a, b):
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        return int(round(round(sum(x * y for x, y in zip(a, b)) / n, 3) * 1000))

    pos = {
        (s, t): c_mil(vecs[s], vecs[t])
        for s in ids
        if sides[s] == 0
        for t in ids
        if sides[t] == 1 and cell[s] == cell[t] and c_mil(vecs[s], vecs[t]) > 0
    }
    s_stats, t_stats = {}, {}
    for s in {a for a, _ in pos}:
        cands = sorted(
            ((-c, t) for (a, t), c in pos.items() if a == s)
        )[:k]
        s_stats[s] = (sum(-c for c, _ in cands), len(cands))
    for t in {b for _, b in pos}:
        cands = sorted(
            ((-c, s) for (s, b), c in pos.items() if b == t)
        )[:k]
        t_stats[t] = (sum(-c for c, _ in cands), len(cands))
    margins = {
        (s, t): c * 2 * s_stats[s][1] * t_stats[t][1] * 1_000_000
        // (s_stats[s][0] * t_stats[t][1] + t_stats[t][0] * s_stats[s][1])
        for (s, t), c in pos.items()
    }
    fwd = {}
    for (s, t), m in margins.items():
        if s not in fwd or (-m, t) < (-margins[(s, fwd[s])], fwd[s]):
            fwd[s] = t
    bwd = {}
    for (s, t), m in margins.items():
        if t not in bwd or (-m, s) < (-margins[(bwd[t], t)], bwd[t]):
            bwd[t] = s
    return {
        (s, t, margins[(s, t)])
        for s, t in margins
        if fwd.get(s) == t and bwd.get(t) == s and margins[(s, t)] >= thr
    }


def test_bitext_margin_random_parity(spark):
    import random

    from walker_spark.operators.similarity import bitext_margin_pairs

    rng = random.Random(31)
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(40)
    }
    sides = {i: i % 2 for i in vecs}
    df = spark.createDataFrame(
        [(i, vecs[i], sides[i]) for i in vecs],
        "vec_id long, embedding array<double>, side int",
    )
    got = {
        (r["src_id"], r["tgt_id"], r["margin_ppm"])
        for r in bitext_margin_pairs(
            df, k=3, n_cells=2, margin_threshold_ppm=0
        ).collect()
    }
    assert got == _py_bitext(vecs, sides, k=3, n_cells=2, thr=0)


def test_bitext_margin_hub_normalized_out(spark):
    from walker_spark.operators.similarity import bitext_margin_pairs

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 1),
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (5, [0.0, 0.0, 1.0, 0.0], 1),
        # hub: moderately close to EVERY source — raw cosine 0.577
        (7, [0.5, 0.5, 0.5, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, side int"
    )
    got = {
        (r["src_id"], r["tgt_id"]): r["margin_ppm"]
        for r in bitext_margin_pairs(df, k=4, n_cells=1).collect()
    }
    assert set(got) == {(0, 1), (2, 3), (4, 5)}
    assert all(m > 1_000_000 for m in got.values())


def test_bitext_margin_validates(spark):
    import pytest as _pytest

    from walker_spark.operators.similarity import bitext_margin_pairs

    df = spark.createDataFrame(
        [(0, [1.0], 0)], "vec_id long, embedding array<double>, side int"
    )
    with _pytest.raises(ValueError):
        bitext_margin_pairs(df, k=0)


def test_within_doc_dedup_planted(spark):
    from walker_spark.operators.dedup import within_doc_dedup

    rows = [
        # repeated nav block, case/space-insensitive match, blanks kept
        (1, "Home | About\nbody one\n\nhome | about \nbody two\nHome | About"),
        (2, "only line"),
        (3, "\n\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in within_doc_dedup(df).collect()}
    assert got[1]["clean_text"] == "Home | About\nbody one\n\nbody two"
    assert (got[1]["n_lines"], got[1]["n_kept"]) == (5, 3)
    assert got[2]["clean_text"] == "only line"
    assert (got[2]["n_lines"], got[2]["n_kept"]) == (1, 1)
    # all-blank doc: structure preserved, zero non-blank lines
    assert got[3]["clean_text"] == "\n\n"
    assert (got[3]["n_lines"], got[3]["n_kept"]) == (0, 0)


def test_within_doc_dedup_randomized_vs_reference(spark):
    import random

    from walker_spark.operators.dedup import within_doc_dedup

    rng = random.Random(41)
    docs = {}
    for d in range(30):
        lines = [
            rng.choice(["alpha", "Beta", " beta ", "gamma", "", "delta x"])
            for _ in range(rng.randrange(0, 10))
        ]
        docs[d] = "\n".join(lines)
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in within_doc_dedup(df).collect()}
    for d, text in docs.items():
        lines = text.split("\n")
        seen, kept = set(), []
        for ln in lines:
            key = ln.strip().lower()
            if key == "" or key not in seen:
                kept.append(ln)
                seen.add(key)
        assert got[d]["clean_text"] == "\n".join(kept), d
        assert got[d]["n_lines"] == sum(1 for x in lines if x.strip())
        assert got[d]["n_kept"] == sum(1 for x in kept if x.strip())


# ---------------------------------------------------------------------------
# embedding outliers
# ---------------------------------------------------------------------------


def test_embedding_outliers_planted_tail(spark):
    from walker_spark.operators.similarity import embedding_outliers

    # one tight cluster around e0 + one planted far point; a second
    # tight cluster around e1 with NO outlier. clusters= passed
    # directly so the test pins the histogram rule, not k-means.
    rows = (
        [(i, 0, round(0.01 * i, 3)) for i in range(19)]
        + [(99, 0, 9.0)]
        + [(200 + i, 1, 0.05) for i in range(10)]
    )
    clusters = spark.createDataFrame(
        rows, "id long, cid int, sq_dist double"
    )
    got = {
        r["id"]: (r["is_outlier"], r["cluster_n"], r["n_below"])
        for r in embedding_outliers(
            clusters=clusters, keep_ppm=950_000
        ).collect()
    }
    assert got[99] == (True, 20, 19)
    assert all(not got[i][0] for i in range(19))
    # all-tied cluster: n_below = 0 for everyone -> nobody flagged
    assert all(not got[200 + i][0] for i in range(10))


def test_embedding_outliers_fraction_and_validation(spark):
    import pytest as _pytest

    from walker_spark.operators.similarity import embedding_outliers

    # 100 distinct distances, keep 90% -> exactly 10 flagged (ranks
    # with n_below 90..99)
    clusters = spark.createDataFrame(
        [(i, 0, float(i)) for i in range(100)],
        "id long, cid int, sq_dist double",
    )
    out = embedding_outliers(clusters=clusters, keep_ppm=900_000)
    flagged = sorted(r["id"] for r in out.collect() if r["is_outlier"])
    assert flagged == list(range(90, 100))
    with _pytest.raises(ValueError):
        embedding_outliers(clusters=clusters, keep_ppm=0)
    with _pytest.raises(ValueError):
        embedding_outliers()


def test_mirror_candidates_planted_and_thresholds(spark):
    import pytest as _pytest

    from walker_spark.operators.dedup import mirror_candidates

    rows = (
        # host A: 10 distinct docs
        [("a", f"doc number {i} body") for i in range(10)]
        # host B mirrors 8 of them (plus 2 of its own) -> containment
        # 8/10 = 800000 vs A (min side is B with 10 docs too)
        + [("b", f"doc number {i} body") for i in range(8)]
        + [("b", f"b only {i}") for i in range(2)]
        # host C shares exactly one doc with A -> below min_shared
        + [("c", "doc number 0 body"), ("c", "c only")]
        # normalization: case/whitespace variants still match
        + [("d", f"  DOC   NUMBER {i} BODY " ) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        (r["group_a"], r["group_b"]): r
        for r in mirror_candidates(
            df, min_shared=2, containment_threshold_ppm=300_000
        ).collect()
    }
    assert set(got) == {("a", "b"), ("a", "d"), ("b", "d")}
    ab = got[("a", "b")]
    assert (ab["n_a"], ab["n_b"], ab["shared"]) == (10, 10, 8)
    assert ab["containment_ppm"] == 800_000
    assert ab["jaccard_ppm"] == 8 * 1_000_000 // 12
    ad = got[("a", "d")]
    assert ad["shared"] == 10 and ad["containment_ppm"] == 1_000_000
    with _pytest.raises(ValueError):
        mirror_candidates(df, min_shared=0)


# ---------------------------------------------------------------------------
# impact-ordered pruned BM25
# ---------------------------------------------------------------------------


def _bm25_eq(a, b):
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    fa = sorted(
        (
            (r["query_id"], r["doc_id"], r["rank"], r["n_matched"], r["score"])
            for r in a
        )
    )
    fb = sorted(
        (
            (r["query_id"], r["doc_id"], r["rank"], r["n_matched"], r["score"])
            for r in b
        )
    )
    return fa == fb


def test_bm25_pruned_equals_exact_all_regimes(spark):
    import random

    from walker_spark.operators.retrieval import bm25_pruned_topk, bm25_topk

    rng = random.Random(53)
    vocab = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 40))))
            for d in range(120)
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(q, " ".join(rng.sample(vocab, rng.randrange(1, 4)))) for q in range(6)],
        "query_id int, query string",
    )
    exact = bm25_topk(docs, queries, k=5).collect()
    # n_impact=1: nearly every certificate fails -> fallback path;
    # n_impact=8: mixed; n_impact=1000: untruncated branch.
    for n in (1, 8, 1000):
        pruned = bm25_pruned_topk(docs, queries, k=5, n_impact=n).collect()
        assert _bm25_eq(pruned, exact), f"n_impact={n}"


def test_bm25_pruned_validates(spark):
    import pytest as _pytest

    from walker_spark.operators.retrieval import bm25_pruned_topk

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    qs = spark.createDataFrame([(0, "a")], "query_id int, query string")
    with _pytest.raises(ValueError):
        bm25_pruned_topk(docs, qs, n_impact=0)


def test_farthest_points_vs_reference(spark):
    import random

    from walker_spark.operators.similarity import farthest_points

    rng = random.Random(61)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(6)] for i in range(50)}
    df = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<double>"
    )
    got = [
        (r["rank"], r["id"], r["radius"])
        for r in farthest_points(df, k=6).orderBy("rank").collect()
    ]

    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    sel = [min(vecs)]
    d = {i: round(sq(vecs[i], vecs[sel[0]]), 3) for i in vecs}
    ref = [(1, sel[0], 0.0)]
    for r in range(2, 7):
        pick = max(vecs, key=lambda i: (d[i], -i))
        ref.append((r, pick, d[pick]))
        for i in vecs:
            d[i] = min(d[i], round(sq(vecs[i], vecs[pick]), 3))
    assert got == ref


def test_farthest_points_small_and_validates(spark):
    import pytest as _pytest

    from walker_spark.operators.similarity import farthest_points

    # k larger than the corpus: stops after exhausting distinct picks
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    got = [(r["rank"], r["id"], r["radius"]) for r in farthest_points(df, k=5).orderBy("rank").collect()]
    assert got[0] == (1, 1, 0.0) and got[1] == (2, 2, 25.0)
    assert len(got) == 5  # duplicate-coverage picks continue at d=0
    with _pytest.raises(ValueError):
        farthest_points(df, k=0)


def test_modularity_known_partitions(spark):
    from walker_spark.operators.graph import modularity

    # two 3-cliques joined by one bridge edge: m = 7
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    labels_good = spark.createDataFrame(
        [(n, 0 if n <= 3 else 1) for n in range(1, 7)], "node long, label long"
    )
    row = modularity(edges, labels_good).collect()[0]
    assert (row["m"], row["n_communities"], row["intra_edges"]) == (7, 2, 6)
    # exact: Q*4m^2 = sum(4*7*3 - 7^2) * 2 = (84-49)*2 = 70; 4m^2=196
    assert row["q_ppm"] == 70 * 1_000_000 // 196
    # all-singletons partition: e_c = 0 everywhere, Q negative
    labels_single = spark.createDataFrame(
        [(n, n) for n in range(1, 7)], "node long, label long"
    )
    row2 = modularity(edges, labels_single).collect()[0]
    assert row2["intra_edges"] == 0 and row2["q_ppm"] < 0
    # missing labels default to singleton: same result
    empty = spark.createDataFrame([], "node long, label long")
    row3 = modularity(edges, empty).collect()[0]
    assert row3["q_ppm"] == row2["q_ppm"]
    # one-community partition: Q == 0 exactly
    labels_one = spark.createDataFrame(
        [(n, 1) for n in range(1, 7)], "node long, label long"
    )
    assert modularity(edges, labels_one).collect()[0]["q_ppm"] == 0


def test_term_dispersion_planted_and_reference(spark):
    import pytest as _pytest

    from walker_spark.operators.textstats import term_dispersion

    # 3 parts of equal token mass; 'even' spread evenly, 'burst' only
    # in part a, 'semi' in two of three parts.
    rows = [
        ("a", "even even burst burst burst semi"),
        ("b", "even even semi filler filler filler"),
        ("c", "even even filler filler filler filler"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r["term"]: (r["term_total"], r["dp_ppm"])
        for r in term_dispersion(df, min_count=2, top_k=10).collect()
    }

    def dp(counts):  # pure-python reference, same integer law
        parts = {"a": 6, "b": 6, "c": 6}
        P = 18
        Fc = sum(counts.values())
        present = sum(
            abs(counts[i] * P - parts[i] * Fc) for i in counts
        )
        present_p = sum(parts[i] for i in counts)
        return (present + Fc * (P - present_p)) * 1_000_000 // (2 * Fc * P)

    assert got["burst"] == (3, dp({"a": 3}))
    assert got["even"] == (6, dp({"a": 2, "b": 2, "c": 2}))
    assert got["semi"] == (2, dp({"a": 1, "b": 1}))
    # burstier terms rank higher
    assert got["burst"][1] > got["semi"][1] > got["even"][1]
    assert got["even"][1] == 0  # perfectly proportional spread
    with _pytest.raises(ValueError):
        term_dispersion(df, min_count=0)


def test_ivf_recall_report_bounds_and_exact_regime(spark):
    import math
    import random

    from walker_spark.operators.similarity import (
        dense_topk,
        ivf_recall_report,
        ivf_topk_multi,
    )

    rng = random.Random(71)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(60)}
    df = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(j, [rng.uniform(-1, 1) for _ in range(8)]) for j in range(3)],
        "query_id int, qvec array<double>",
    )
    # nprobe == n_centroids: every cell probed -> approx == exact, so
    # recall is exactly 1e6 for every query
    full = ivf_recall_report(df, queries, k=5, n_centroids=4, nprobe=4)
    assert all(
        r["recall_ppm"] == 1_000_000 and r["hits"] == 5
        for r in full.collect()
    )
    # tight probing: recall = |approx ∩ exact| / k replayed manually
    approx = {
        (r["query_id"], r["doc_id"])
        for r in ivf_topk_multi(
            df, queries, k=5, n_centroids=4, nprobe=1
        ).collect()
    }
    exact = {
        (r["query_id"], r["doc_id"])
        for r in dense_topk(df, queries, k=5).collect()
    }
    got = {
        r["query_id"]: r["recall_ppm"]
        for r in ivf_recall_report(
            df, queries, k=5, n_centroids=4, nprobe=1
        ).collect()
    }
    for qid in (0, 1, 2):
        hits = sum(1 for (q, d) in exact if q == qid and (q, d) in approx)
        assert got[qid] == hits * 1_000_000 // 5


def test_clustering_coefficients_known_graph(spark):
    import pytest as _pytest

    from walker_spark.operators.graph import (
        clustering_coefficients,
        graph_transitivity,
    )

    # K4 minus one edge (1-2,1-3,1-4,2-3,2-4): triangles 123, 124;
    # node 1: d=3 T=2 cc=2*2/6; node 2: d=3 T=2; 3: d=2 T=1 cc=1;
    # 4: d=2 T=1 cc=1
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "src long, dst long"
    )
    got = {
        r["node"]: (r["degree"], r["triangles"], r["cc_ppm"])
        for r in clustering_coefficients(edges).collect()
    }
    assert got == {
        1: (3, 2, 2 * 2 * 1_000_000 // 6),
        2: (3, 2, 2 * 2 * 1_000_000 // 6),
        3: (2, 1, 1_000_000),
        4: (2, 1, 1_000_000),
    }
    row = graph_transitivity(edges).collect()[0]
    # wedges = 3+3+1+1 = 8; sum_triangles = 6 (= 3 * 2 triangles)
    assert (row["n_nodes"], row["sum_triangles"], row["wedges"]) == (4, 6, 8)
    assert row["transitivity_ppm"] == 6 * 1_000_000 // 8
    assert row["avg_cc_ppm"] == (666666 + 666666 + 1_000_000 + 1_000_000) // 4
    with _pytest.raises(ValueError):
        clustering_coefficients()


def test_clustering_coefficients_hub_past_bigint(spark):
    """A degree-4M hub with a near-complete neighbourhood puts
    2 * triangles * 1e6 near 1.6e19, past BIGINT; under ANSI a BIGINT
    numerator raises. The numerator is DECIMAL(38,0) and the ppm
    matches exact integer math."""
    from walker_spark.operators.graph import clustering_coefficients

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    d = 4_000_000
    t = d * (d - 1) // 2 - 12_345
    counts = spark.createDataFrame(
        [(1, d, t), (2, d, 0)], "node long, degree long, triangles long"
    )
    got = {
        r["node"]: r["cc_ppm"]
        for r in clustering_coefficients(counts=counts).collect()
    }
    assert got == {1: 2 * t * 1_000_000 // (d * (d - 1)), 2: 0}
    assert got[1] == 999_999

def test_vocab_growth_planted_curve(spark):
    import pytest as _pytest

    from walker_spark.operators.textstats import vocab_growth

    # ids 0..9, 2 buckets; 'base' everywhere, one novel term per doc
    # in the second half only
    rows = [
        (i, "base" + ("" if i < 5 else f" novel{i}")) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["bucket"]: (r["new_terms"], r["cum_terms"])
        for r in vocab_growth(df, n_buckets=2).collect()
    }
    assert got == {0: (1, 1), 1: (5, 6)}
    with _pytest.raises(ValueError):
        vocab_growth(df, n_buckets=0)
