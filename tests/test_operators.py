"""Operator-level differential tests for the pieces not fully covered
by workload oracles: SimHash bit math vs python, LSH recall vs brute
force, kNN join, pandas kernel vs JVM cosine, multimodal plumbing."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from nowdb_spark.operators import dedup as D
from nowdb_spark.operators import multimodal as M
from nowdb_spark.operators import similarity as S
from tests.conftest import SF_DIR


def python_simhash(text: str) -> str:
    toks = text.split(" ")
    n = len(toks)
    sums = [0] * 64
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest()[:16]
        v = int(h, 16)
        for b in range(64):
            sums[b] += (v >> (63 - b)) & 1  # bit order: hex digit major
    bits = 0
    # rebuild with the same digit-major layout as the Column impl
    digits = "0123456789abcdef"
    out = []
    for pos in range(16):
        val = 0
        for b in range(4):
            s = sums[pos * 4 + (3 - b)]
            if 2 * s > n:
                val |= 1 << b
        out.append(digits[val])
    return "".join(out)


def test_simhash_matches_python(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    got = {r["doc_id"]: r["simhash"]
           for r in D.simhash_dedup(docs).collect()}
    for r in docs.collect():
        assert got[r["doc_id"]] == python_simhash(r["text"]), r["doc_id"]


def test_simhash_near_dup_property(spark):
    """Identical docs → identical fingerprints; hamming distance of
    fingerprints of distinct docs is typically large."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"),
         (3, "x y z q w r t u")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r["simhash"] for r in D.simhash_dedup(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    exact = S.knn_join(emb.filter(F.col("vec_id") >= 5), queries, k=5)
    approx = S.lsh_bucket_topk(emb.filter(F.col("vec_id") >= 5), queries,
                               k=5, n_planes=4, n_tables=8, dim=64,
                               multiprobe=1)
    exact_set = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    approx_set = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_kernels_agree(spark):
    """The Arrow/numpy corpus-hashing kernel must produce the same
    top-k as the JVM column kernel (identical buckets away from the
    sign boundary; real embeddings never sit on it)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    corpus = emb.filter(F.col("vec_id") >= 5)
    col = S.lsh_bucket_topk(corpus, queries, k=5, n_planes=4,
                            n_tables=8, dim=64, kernel="column")
    pdk = S.lsh_bucket_topk(corpus, queries, k=5, n_planes=4,
                            n_tables=8, dim=64, kernel="pandas")
    a = {(r["qid"], r["vec_id"], r["sim"]) for r in col.collect()}
    b = {(r["qid"], r["vec_id"], r["sim"]) for r in pdk.collect()}
    assert a == b


def test_pandas_kernel_matches_jvm(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    jvm = S.brute_force_topk(emb, 0, k=10)
    pdk = M and S.pandas_cosine_topk(emb.filter(F.col("vec_id") != 0),
                                     list(qv), k=10)
    jset = [(r["vec_id"], r["sim"]) for r in jvm.collect()]
    pset = [(r["vec_id"], r["sim"]) for r in pdk.collect()]
    assert len(jset) == len(pset) == 10
    for (jv, js), (pv, ps) in zip(jset, pset):
        assert jv == pv
        assert js == pytest.approx(ps, abs=2e-6)


def test_multimodal_frame_sample(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(5)
    payloads = M.with_binary_payload(docs)
    frames = M.frame_sample(payloads, every_n_bytes=50)
    rows = frames.collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for r in docs.collect():
        n_bytes = len(r["text"].encode())
        expect_frames = (n_bytes + 49) // 50
        got = by_doc[r["doc_id"]]
        assert len(got) == expect_frames
        assert all(len(bytes(f["chunk"])) <= 16 for f in got)
        # first chunk is the text prefix
        first = min(got, key=lambda f: f["frame_no"])
        assert bytes(first["chunk"]) == r["text"].encode()[:16]


def test_multimodal_resize_and_features(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(5)
    payloads = M.with_binary_payload(docs)

    resized = M.resize_image(payloads, width=8, height=4).collect()
    assert len(resized) == 5
    for r in resized:
        assert len(bytes(r["resized"])) == 32
        assert (r["out_w"], r["out_h"]) == (8, 4)
    # deterministic: first bytes cycle the payload
    src = {r["doc_id"]: r["text"].encode() for r in docs.collect()}
    for r in resized:
        assert bytes(r["resized"])[:8] == src[r["doc_id"]][:8]

    feats = M.feature_extract(payloads, dim=16).collect()
    assert len(feats) == 5
    import math
    for r in feats:
        v = r["features"]
        assert len(v) == 16
        assert math.isclose(sum(x * x for x in v), 1.0, rel_tol=1e-5)
    # same payload -> same features (deterministic kernel)
    again = {r["doc_id"]: r["features"]
             for r in M.feature_extract(payloads, dim=16).collect()}
    for r in feats:
        assert again[r["doc_id"]] == pytest.approx(r["features"], abs=1e-6)


def test_multimodal_decode_gate():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"xx")


def test_exact_dedup_finds_injected_dups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string")
    rows = {r["doc_id"]: (r["canonical_id"], r["is_dup"])
            for r in D.exact_dedup(df).collect()}
    assert rows[1] == (1, False)
    assert rows[2] == (1, True)
    assert rows[3] == (3, False)


def test_dup_clusters_transitive(spark):
    # a~b and b~c but no direct a~c pair: one cluster of three
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["canonical_id"]
           for r in D.dup_clusters(pairs).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10


def test_minhash_lsh_finds_injected_neardups(spark):
    base = ("w%d " * 40) % tuple(range(40))
    near = base.replace("w3 ", "w3x ")          # one shingle changed
    far = ("z%d " * 40) % tuple(range(40))
    df = spark.createDataFrame(
        [(1, base.strip()), (2, near.strip()), (3, far.strip())],
        "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
             for r in D.minhash_lsh_pairs(df, threshold=0.3).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64", "arrow"])
def test_minhash_backends_agree_on_neardups(spark, hash_fn):
    """Both hash backends must find the injected near-dup pair and
    reject the far pair; identical docs must have identical
    signatures under either backend."""
    base = ("w%d " * 40) % tuple(range(40))
    near = base.replace("w3 ", "w3x ")
    far = ("z%d " * 40) % tuple(range(40))
    df = spark.createDataFrame(
        [(1, base.strip()), (2, near.strip()), (3, far.strip()),
         (4, base.strip())],
        "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
             for r in D.minhash_lsh_pairs(
                 df, threshold=0.3, hash_fn=hash_fn).collect()}
    assert (1, 2) in pairs
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0   # identical docs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    sigs = {r["doc_id"]: tuple(r)[1:]
            for r in D.minhash_signature(
                df, hash_fn=hash_fn).collect()}
    assert sigs[1] == sigs[4]
    assert sigs[1] != sigs[3]


def test_minhash_xxhash_unbounded_k_and_empty_doc(spark):
    # k > 8 is valid for the xxhash64 backend; empty docs → NULLs
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "")], "doc_id long, text string")
    rows = {r["doc_id"]: r
            for r in D.minhash_signature(
                df, k=16, hash_fn="xxhash64").collect()}
    assert all(rows[1][f"s{i}"] is not None for i in range(16))
    with pytest.raises(ValueError):
        D.minhash_signature(df, k=16, hash_fn="md5")
    with pytest.raises(ValueError):
        D.minhash_signature(df, hash_fn="sha1")


def test_minhash_compact_lsh_matches_hex(spark):
    """compact=True (int64 components, xxhash64 band keys) must yield
    the exact hex-path pairs and estimates; compact is arrow-only."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = sorted(tuple(r) for r in D.minhash_lsh_pairs(
        docs, threshold=0.3, hash_fn="arrow").collect())
    b = sorted(tuple(r) for r in D.minhash_lsh_pairs(
        docs, threshold=0.3, hash_fn="arrow", compact=True).collect())
    assert a == b and a
    with pytest.raises(ValueError):
        D.minhash_signature(docs, hash_fn="md5", compact=True)


def test_ivf_exact_when_probing_all(spark):
    """n_probe == n_centroids degenerates IVF to exact knn_join."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    corpus = emb.filter(F.col("vec_id") >= 3)
    exact = S.knn_join(corpus, queries, k=5)
    ivf = S.ivf_topk(corpus, queries, k=5, n_centroids=4, n_probe=4,
                     iters=2)
    e = {(r["qid"], r["vec_id"], r["sim"]) for r in exact.collect()}
    i = {(r["qid"], r["vec_id"], r["sim"]) for r in ivf.collect()}
    assert e == i


def test_ivf_kernels_agree(spark):
    """Arrow/numpy centroid assignment must reproduce the Column
    kernel's clusters and top-k (argmax first-max tie-break matches;
    ties at float-rounding distance are measure-zero)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    corpus = emb.filter(F.col("vec_id") >= 3)
    col = S.ivf_topk(corpus, queries, k=5, n_centroids=4, n_probe=2,
                     iters=2, kernel="column")
    pdk = S.ivf_topk(corpus, queries, k=5, n_centroids=4, n_probe=2,
                     iters=2, kernel="pandas")
    a = {(r["qid"], r["vec_id"], r["sim"]) for r in col.collect()}
    b = {(r["qid"], r["vec_id"], r["sim"]) for r in pdk.collect()}
    assert a == b


def test_ivf_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = S.knn_join(corpus, queries, k=5)
    approx = S.ivf_topk(corpus, queries, k=5, n_centroids=8, n_probe=3,
                        iters=3)
    exact_set = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    approx_set = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    # candidate volume ~3/8 of the corpus; data-adaptive buckets must
    # beat that ratio comfortably on recall
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ivf_index_partitions_cover_corpus(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = S.kmeans_centroids(emb, n_centroids=4, iters=2)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    idx = S.ivf_index(emb, cents)
    per = {r["cid"]: r["n"] for r in
           idx.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(per.values()) == emb.count()
    assert all(0 <= c < 4 for c in per)


def test_quantize_roundtrip(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(20)
    q = S.quantize_int8(emb)
    d = S.dequantize_int8(q).collect()
    for r in d:
        orig = [float(x) for x in r["embedding"]]
        back = r["deq"]
        bound = r["scale"] / 254.0 + 1e-9
        assert all(abs(a - b) <= bound for a, b in zip(orig, back))
        assert all(-127 <= x <= 127 for x in r["q"])


def test_ngram_jaccard_max_df(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y a b"), (4, "p q r s")],
        "doc_id long, text string")
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(df, threshold=0.0).collect()}
    # 'a b' appears in 3 docs; max_df=2 drops its posting list, so
    # intersections through it disappear (undercount, by design)
    capped = {(r["doc_a"], r["doc_b"]): r["jaccard"]
              for r in D.ngram_jaccard_pairs(df, threshold=0.0,
                                             max_df=2).collect()}
    assert (1, 2) in exact and (1, 3) in exact
    assert (1, 3) not in capped           # only shared 'a b'
    assert (1, 2) in capped               # still shares 'b c'
    assert capped[(1, 2)] < exact[(1, 2)]


def test_simhash_arrow_backend(spark):
    """Arrow simhash: deterministic, 16-hex, equal docs → equal
    fingerprints, near-dups → small Hamming distance, empty → NULL."""
    from pyspark.sql import Row

    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [Row(doc_id=1, text=base),
            Row(doc_id=2, text=base),                      # exact dup
            Row(doc_id=3, text=base + " with a tiny tail"),
            Row(doc_id=4, text="completely different words entirely "
                               "unrelated corpus segment"),
            Row(doc_id=5, text="")]
    df = spark.createDataFrame(rows)
    got = {r["doc_id"]: r["simhash"]
           for r in D.simhash64_arrow(df).collect()}
    assert got[1] == got[2] and len(got[1]) == 16
    int(got[1], 16)                                        # valid hex
    assert got[5] is None

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    assert ham(got[1], got[3]) <= 12       # near-dup: small distance
    assert ham(got[1], got[4]) > ham(got[1], got[3])

    # determinism across a second evaluation (fixed-key SipHash)
    again = {r["doc_id"]: r["simhash"]
             for r in D.simhash64_arrow(df).collect()}
    assert again == got


def _py_duplicate_spans(texts: dict, k: int):
    """Pure-python reference for duplicate_spans (positional shingle
    counts + island merge)."""
    from collections import Counter
    occ = Counter()
    shingles = {}
    for doc, text in texts.items():
        ws = text.split()
        sh = [" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)]
        shingles[doc] = sh
        occ.update(sh)
    spans = {}
    for doc, sh in shingles.items():
        dup_pos = [i for i, s in enumerate(sh) if occ[s] >= 2]
        out, start = [], None
        for j, p in enumerate(dup_pos):
            if start is None:
                start = p
            if j + 1 == len(dup_pos) or dup_pos[j + 1] != p + 1:
                out.append((start, p + k))
                start = None
        spans[doc] = out
    return spans


def test_duplicate_spans_matches_python(spark):
    texts = {
        0: "p q a b c d e r s",
        1: "x y a b c d e z w",          # shares the 5-token run a..e
        2: "p q m n o r s t u",
        3: "u v m m m m m m w",
        4: "m m m m m m",                # within-doc + cross-doc repeats
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r.doc_id, r.span_start, r.span_end)
           for r in D.duplicate_spans(df, k=5).collect()}
    want = {(d, a, b) for d, sp in _py_duplicate_spans(texts, 5).items()
            for a, b in sp}
    assert got == want and got  # non-trivial fixture


def test_duplicate_spans_hash_fn_agree(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {tuple(r) for r in D.duplicate_spans(docs, k=5).collect()}
    b = {tuple(r) for r in
         D.duplicate_spans(docs, k=5, hash_fn="xxhash64").collect()}
    c = {tuple(r) for r in
         D.duplicate_spans(docs, k=5, hash_fn="arrow").collect()}
    assert a == b == c and a


def test_remove_duplicate_spans_matches_python(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = {r.doc_id: r.text for r in docs.collect()}
    spans = _py_duplicate_spans(texts, 5)
    want = {}
    for doc, text in texts.items():
        ws = text.split()
        cut = set()
        for a, b in spans.get(doc, []):
            cut.update(range(a, b))
        want[doc] = " ".join(w for i, w in enumerate(ws) if i not in cut)
    got = {r.doc_id: r.text
           for r in D.remove_duplicate_spans(docs, k=5).collect()}
    assert got == want
    assert any(got[d] != texts[d] for d in texts)  # something was cut


def test_pq_encode_kernels_agree(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cbs = S.pq_codebooks_lcg(64, m=8, k=16, seed=7)
    col = {r.vec_id: list(r.code)
           for r in S.pq_encode(emb, cbs, kernel="column").collect()}
    pdk = {r.vec_id: list(r.code)
           for r in S.pq_encode(emb, cbs, kernel="pandas").collect()}
    assert col == pdk and col


def test_pq_trained_beats_lcg_reconstruction(spark):
    import numpy as np
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}

    def recon_err(cbs):
        deq = {r.vec_id: np.array(r.deq)
               for r in S.pq_decode(S.pq_encode(emb, cbs, kernel="pandas"),
                                    cbs).collect()}
        return sum(np.linalg.norm(vecs[i] - deq[i]) for i in vecs)

    lcg = S.pq_codebooks_lcg(64, m=8, k=16, seed=7)
    trained = S.pq_train_codebooks(emb, dim=64, m=8, k=16, iters=5)
    assert recon_err(trained) < recon_err(lcg)


def test_pq_adc_recall_improves_with_resolution(spark):
    """Uniform-random vectors are PQ's adversarial case (no cluster
    structure to exploit), so absolute recall is modest — the property
    that matters is that the (m, k) quality knob works: finer
    quantization → better recall@10 (measured 0.34 → 0.54 → 0.80 at
    m8k16 / m16k32 / m32k64 on this fixture)."""
    import numpy as np
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))

    def recall(m, k):
        trained = S.pq_train_codebooks(emb, dim=64, m=m, k=k, iters=5)
        codes = S.pq_encode(emb, trained, kernel="pandas")
        got = {}
        for r in S.pq_adc_topk(codes, queries, trained, k=10).collect():
            got.setdefault(r.qid, set()).add(r.vec_id)
        hits = tot = 0
        for qid in got:
            d = sorted(vecs, key=lambda i: (
                float(np.linalg.norm(vecs[i] - vecs[qid])), i))
            hits += len(got[qid] & set(d[:10]))
            tot += 10
        return hits / tot

    coarse, fine = recall(8, 16), recall(32, 64)
    assert coarse >= 0.2
    assert fine >= coarse + 0.2


def test_semdedup_known_dups(spark):
    """Hand-built corpus: two exact-direction pairs inside clusters →
    min_id policy marks the higher id of each pair."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),     # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.02, 0.0]),     # near-dup of 2
        (4, [0.0, 0.0, 1.0, 0.0]),       # singleton
        (5, [0.5, 0.5, 0.5, 0.5]),       # far from everything at 0.99
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    r = {x["vec_id"]: x for x in
         S.semdedup(df, n_centroids=3, iters=2, threshold=0.99).collect()}
    assert not r[0]["is_dup"] and r[1]["is_dup"] and r[1]["dup_of"] == 0
    assert not r[2]["is_dup"] and r[3]["is_dup"] and r[3]["dup_of"] == 2
    assert not r[4]["is_dup"] and not r[5]["is_dup"]


def test_semdedup_far_policy_keeps_farthest(spark):
    """keep='far' keeps the pair member with the LOWER centroid
    cosine (the paper's policy); min_id keeps the lower id. Build a
    pair where those disagree: id 0 sits exactly on the centroid
    direction, id 1 slightly off — 'far' must keep 1, min_id keeps
    0."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.995, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),       # second cluster anchor
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # centroids fixed so the test controls geometry (unit vectors)
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    mi = {x["vec_id"]: x for x in
          S.semdedup(df, centroids=cents, threshold=0.9).collect()}
    fa = {x["vec_id"]: x for x in
          S.semdedup(df, centroids=cents, threshold=0.9,
                     keep="far").collect()}
    assert mi[1]["is_dup"] and mi[1]["dup_of"] == 0 and not mi[0]["is_dup"]
    assert fa[0]["is_dup"] and fa[0]["dup_of"] == 1 and not fa[1]["is_dup"]


def test_semdedup_partition_invariance(spark):
    """Result is a pure function of the data — any input layout."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = S.semdedup(emb, n_centroids=4, iters=2, threshold=0.35)
    b = S.semdedup(emb.repartition(13), n_centroids=4, iters=2,
                   threshold=0.35)
    ka = {(r["vec_id"], r["cid"], r["dup_of"], r["is_dup"])
          for r in a.collect()}
    kb = {(r["vec_id"], r["cid"], r["dup_of"], r["is_dup"])
          for r in b.collect()}
    assert ka == kb


def test_semdedup_pair_kernels_agree(spark):
    """The Arrow cluster-local BLAS pairwise path must reproduce the
    column join's marks exactly (same min-id policy, same round-6
    cosine; half-even vs half-up rounding differs only exactly ON a
    1e-6 boundary, measure-zero for real embeddings)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    col = S.semdedup(emb, n_centroids=4, iters=2, threshold=0.35)
    arr = S.semdedup(emb, n_centroids=4, iters=2, threshold=0.35,
                     pair_kernel="arrow")
    kc = {(r["vec_id"], r["cid"], r["dup_of"], r["is_dup"])
          for r in col.collect()}
    ka = {(r["vec_id"], r["cid"], r["dup_of"], r["is_dup"])
          for r in arr.collect()}
    assert kc == ka


def test_semdedup_degenerate_cluster(spark):
    """A cluster of thousands of IDENTICAL embeddings (real corpora
    have them) must resolve with O(B²) kernel memory and every dup
    pointing at the single min-id canonical."""
    df = (spark.range(6000)
          .select(F.col("id").alias("vec_id"),
                  F.array(*[F.lit(1.0)] * 8).alias("embedding")))
    r = S.semdedup(df, centroids=[[1.0] + [0.0] * 7,
                                  [0.0, 1.0] + [0.0] * 6],
                   threshold=0.99, pair_kernel="arrow").cache()
    assert r.filter("is_dup").count() == 5999
    rng = r.filter("is_dup").agg(F.min("dup_of"), F.max("dup_of")).first()
    assert tuple(rng) == (0, 0)


def test_ivf_pq_full_probe_equals_adc(spark):
    """Probing every list degenerates IVF-PQ to plain ADC over the
    whole corpus — identical ranks and distances."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cbs = S.pq_codebooks_lcg(64, 8, 16, seed=7)
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    full = S.pq_adc_topk(S.pq_encode(emb, cbs), queries, cbs, k=5)
    ivf = S.ivf_pq_topk(emb, queries, cbs, k=5, n_centroids=4,
                        n_probe=4, iters=2)
    a = {(r["qid"], r["vec_id"], r["dist"], r["rnk"])
         for r in full.collect()}
    b = {(r["qid"], r["vec_id"], r["dist"], r["rnk"])
         for r in ivf.collect()}
    assert a == b


def test_brute_force_batch_equals_full_probe_ivf(spark):
    """The partition-local top-k + merge formulation returns the
    identical exact result as probing every IVF list (both are exact
    cosine; same rounding, same id tie-break)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    a = {(r["qid"], r["vec_id"], r["rnk"])
         for r in S.brute_force_topk_batch(
             emb.repartition(7), queries, k=8).collect()}
    b = {(r["qid"], r["vec_id"], r["rnk"])
         for r in S.ivf_topk(emb, queries, k=8, n_centroids=4,
                             n_probe=4, iters=2).collect()}
    assert a == b


def test_ivf_pq_residual_beats_raw_on_clustered(spark):
    """IVFADC's residual encoding (Jégou et al. §III): on a clustered
    corpus, raw-vector PQ maps every member of a cluster to the same
    code (ADC cannot rank within the cluster — where the true
    neighbors are), while PQ over v − centroid[cid] resolves the
    noise-scale intra-cluster structure with the same m×k budget."""
    import numpy as np
    rng = np.random.default_rng(11)
    # the regime where residuals matter: clusters ≫ codewords (raw
    # codebooks can only resolve BETWEEN clusters) and members ≫ 10
    # (so random-within-cluster scores near zero). Clusters are
    # interleaved by id so the deterministic first-k k-means init
    # sees distinct clusters; unit-normalized so L2 (ADC) and cosine
    # rank identically.
    dim, n_cl, n = 16, 32, 4800
    centers = rng.uniform(-1, 1, size=(n_cl, dim))
    pts = np.array([centers[i % n_cl]
                    + 0.35 * rng.uniform(-1, 1, size=dim)
                    for i in range(n)])
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<float>")
    queries = (emb.filter(F.col("vec_id").isin([0, 5, 130, 263, 777]))
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))

    def recall(residual, **kw):
        got = {}
        res = S.ivf_pq_topk(emb, queries, None, k=10, n_centroids=32,
                            n_probe=4, iters=4, kernel="pandas",
                            residual=residual, pq_m=4, pq_k=8,
                            pq_train_limit=2000, **kw)
        for r in res.collect():
            got.setdefault(r.qid, set()).add(r.vec_id)
        hits = tot = 0
        for qid in got:
            d = sorted(range(len(pts)), key=lambda i: (
                float(np.linalg.norm(pts[i] - pts[qid])), i))
            hits += len(got[qid] & set(d[:10]))
            tot += 10
        return hits / tot

    raw, res = recall(False), recall(True)   # measured: 0.18 vs 0.48
    assert res >= 0.4
    assert res >= raw + 0.2
    # the exact refine stage over ADC's top-100 recovers the
    # quantization loss entirely at this scale (measured: 1.0)
    assert recall(True, rerank=100) >= 0.9
    # ivf_residuals (the shared index-build helper): residual +
    # assigned centroid reconstructs the vector
    cents = S.kmeans_centroids(emb, 8, 2, kernel="pandas")
    C = np.array(cents)
    for r in (S.ivf_residuals(emb, cents, kernel="pandas")
              .filter(F.col("vec_id") < 20).collect()):
        assert np.allclose(np.array(r["rvec"]) + C[r["cid"]],
                           pts[r["vec_id"]], atol=1e-4)


def test_lsh_hub_cap_linear_and_cluster_exact(spark):
    """A 200-doc clone group: hub_cap switches its buckets to star
    emission — pair count collapses from C(200,2)+extras to linear —
    while dup_clusters over the capped pairs equals the uncapped
    clustering exactly (clone-group members all estimate 1.0)."""
    clones = [(i, "the same boilerplate page body repeated "
                  "verbatim across the crawl again and again")
              for i in range(200)]
    singles = [(1000 + i, f"unique document {i} q{i*7} z{i*13} "
                          f"alpha{i} beta{i} gamma{i} delta{i}")
               for i in range(20)]
    df = spark.createDataFrame(clones + singles,
                               "doc_id long, text string")
    full = D.minhash_lsh_pairs(df, threshold=0.5)
    capped = D.minhash_lsh_pairs(df, threshold=0.5, hub_cap=50)
    n_full, n_capped = full.count(), capped.count()
    assert n_full >= 199 * 100          # C(200,2) all-pairs blowup
    assert n_capped == 199              # one star over the clone group
    a = {(r["doc_id"], r["canonical_id"]) for r in
         D.dup_clusters(full).collect()}
    b = {(r["doc_id"], r["canonical_id"]) for r in
         D.dup_clusters(capped).collect()}
    assert a == b


def test_lsh_increment_matches_full_restriction(spark):
    """Incremental dedup contract: index the corpus slice once, probe
    the batch against it — the result must equal the FULL-corpus LSH
    pair set restricted to pairs touching a batch doc."""
    from tests.conftest import SF_DIR
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    idx = D.lsh_index(corpus, k=8, bands=4)
    got = {(r["doc_a"], r["doc_b"], r["est_jaccard"]) for r in
           D.lsh_increment_pairs(idx, batch, k=8, bands=4,
                                 threshold=0.5).collect()}
    full = {(r["doc_a"], r["doc_b"], r["est_jaccard"]) for r in
            D.minhash_lsh_pairs(docs, k=8, bands=4,
                                threshold=0.5).collect()}
    want = {p for p in full if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert got == want and len(got) > 0
    # corpus-only pairs never re-emitted
    assert all(a % 5 == 0 or b % 5 == 0 for a, b, _ in got)


def test_exact_dedup_increment_matches_full(spark):
    """Same contract as the LSH twin: index the corpus, probe the
    batch — flags must equal a full re-run restricted to the batch.

    The split is by id ORDER (batch = top 20% of doc_ids), matching
    the operator's documented precondition that corpus ids precede
    batch ids — under an interleaved split (e.g. %5), 'index hit
    wins' legitimately diverges from a full re-run whenever a dup
    group's minimum id lands in the batch. That precedence case is
    pinned by the synthetic fixture below instead."""
    from tests.conftest import SF_DIR
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cut = docs.agg(
        F.percentile_approx("doc_id", 0.8, 10000)).collect()[0][0]
    corpus = docs.filter(F.col("doc_id") < cut)
    batch = docs.filter(F.col("doc_id") >= cut)
    assert batch.count() > 0 and corpus.count() > 0
    idx = (D.exact_dedup(corpus).groupBy("content_hash")
           .agg(F.min("canonical_id").alias("canonical_id")))
    got = {r["doc_id"]: (r["canonical_id"], r["is_dup"]) for r in
           D.exact_dedup_increment(idx, batch).collect()}
    full = {r["doc_id"]: (r["canonical_id"], r["is_dup"]) for r in
            D.exact_dedup(docs).collect() if r["doc_id"] >= cut}
    assert got == full and len(got) > 0

    # cross-over flagging, guaranteed by construction: batch doc 100
    # clones corpus doc 1's text and must resolve to ITS canonical
    from pyspark.sql import Row
    sdocs = spark.createDataFrame(
        [Row(doc_id=1, text="same old text"),
         Row(doc_id=2, text="fresh corpus text")])
    sbatch = spark.createDataFrame(
        [Row(doc_id=100, text="same old text"),
         Row(doc_id=101, text="brand new text"),
         Row(doc_id=102, text="brand new text")])
    sidx = (D.exact_dedup(sdocs).groupBy("content_hash")
            .agg(F.min("canonical_id").alias("canonical_id")))
    out = {r["doc_id"]: (r["canonical_id"], r["is_dup"]) for r in
           D.exact_dedup_increment(sidx, sbatch).collect()}
    assert out[100] == (1, True)            # index hit wins
    assert out[101] == (101, False) and out[102] == (101, True)


def test_ewma_columnwise_kernel_bit_exact(spark):
    """The bucketed column-wise EWMA kernel must be bit-identical to
    the scalar recurrence y=(1-a)y+av on a ragged corpus with NULL
    keys, NULL values, and series both longer and shorter than each
    other (NaN padding must never leak across series)."""
    import math
    import random

    from nowdb_spark.operators import timeseries as TS

    rng = random.Random(80)
    rows = []
    for k in range(37):
        key = None if k == 36 else k
        for i in range(rng.randint(1, 50)):
            v = None if rng.random() < 0.05 else \
                round(rng.uniform(-100, 100), 3)
            rows.append((key, i * 10, i, v))
    df = spark.createDataFrame(
        rows, "user_id int, ts long, event_id int, value double")
    got = {(r["user_id"], r["event_id"]): r["ewma"] for r in
           TS.ewma(df, "ts", "user_id", "value", alpha=0.3,
                   tiebreak="event_id", num_buckets=7).collect()}
    # scalar reference, grouped exactly as Spark groups (NULLs = one
    # group), ordered by (ts, event_id)
    series = {}
    for key, ts, eid, v in rows:
        series.setdefault(key, []).append((ts, eid, v))
    want = {}
    for key, items in series.items():
        y = 0.0
        for i, (ts, eid, v) in enumerate(sorted(items)):
            fv = float("nan") if v is None else v
            y = fv if i == 0 else 0.7 * y + 0.3 * fv
            want[(key, eid)] = y
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        if math.isnan(w):
            assert g is None or math.isnan(g), k
        else:
            assert g == w, (k, g, w)   # bitwise, not approx


@pytest.mark.parametrize("num_buckets", [1, 5])
def test_ewma_float_key_nan_and_null_match_pandas_kernel(spark,
                                                         num_buckets):
    """A float key's NaN and NULL are one missing key to pandas
    (`isna()`, sorted together, last); the Arrow kernel must group and
    order them the same way, bit for bit."""
    import math
    import random

    from nowdb_spark.operators import timeseries as TS

    rng = random.Random(num_buckets)
    keys = [0.5, -1.25, 3.0, float("nan"), None]
    rows = [(rng.choice(keys), rng.randrange(1000), eid,
             round(rng.uniform(-10, 10), 3)) for eid in range(400)]
    df = spark.createDataFrame(
        rows, "k double, ts long, event_id int, value double")

    def run(kernel):
        return {r["event_id"]: r["ewma"] for r in TS.ewma(
            df, "ts", "k", "value", alpha=0.3, tiebreak="event_id",
            num_buckets=num_buckets, kernel=kernel).collect()}
    want, got = run("pandas"), run("arrow")
    assert set(got) == set(want) == set(range(400))
    for eid, w in want.items():
        g = got[eid]
        assert (math.isnan(w) and math.isnan(g)) or g == w, (eid, g, w)


def test_ewma_skewed_lengths_bounded_memory(spark):
    """One 500k-row key sharing a bucket with 50k two-row keys: the
    un-banded kernel would allocate a 50 001 × 500 000 matrix (~200 GB
    — an instant MemoryError); the length-banded kernel's peak is
    Σlen-bounded (~2 × bucket rows ≈ 10 MB), so this passing AT ALL is
    the memory gate. Values stay bit-exact vs the scalar recurrence."""
    from nowdb_spark.operators import timeseries as TS

    n_long, n_short = 500_000, 50_000
    long_df = spark.range(n_long).select(
        F.lit(0).alias("k"), (F.col("id") * 10).alias("ts"),
        (F.col("id") % 97).cast("double").alias("v"))
    short_df = spark.range(n_short * 2).select(
        (F.col("id") % n_short + 1).alias("k"),
        (F.floor(F.col("id") / n_short) * 10).alias("ts"),
        (F.col("id") % 13).cast("double").alias("v"))
    df = long_df.unionByName(short_df)
    out = TS.ewma(df, "ts", "k", "v", alpha=0.25, num_buckets=1)

    # scalar replay of the long series' tail + a short series
    y = 0.0
    for i in range(n_long):
        fv = float(i % 97)
        y = fv if i == 0 else 0.75 * y + 0.25 * fv
    got_long = {r["ts"]: r["ewma"] for r in
                out.where("k = 0 and ts >= %d" % ((n_long - 1) * 10))
                   .collect()}
    assert got_long[(n_long - 1) * 10] == y   # bitwise
    # key k carries ids k-1 and n_short+k-1 (id % n_short + 1 == k)
    ks = {r["ts"]: r["ewma"] for r in out.where("k = 7").collect()}
    v0, v1 = float(6 % 13), float((n_short + 6) % 13)
    assert ks == {0: v0, 10: 0.75 * v0 + 0.25 * v1}
    assert out.count() == n_long + n_short * 2


def test_audio_meta_real_dispatches_five_formats(spark):
    """The unified sniff-dispatch must type every audio container —
    WAV (plus its G.711/ADPCM subformats), FLAC, Ogg/Opus, AAC-ADTS,
    MP3 — and NULL-fill undecodable bytes, never fail a task."""
    from nowdb_spark.operators import multimodal as M
    from nowdb_spark.operators.audiocodec import make_audio_codec

    c = make_audio_codec()
    payloads = {
        1: c.encode_wav([3, -4, 5], rate=8000, bits=16),
        2: c.encode_flac(44100, 2, 16, 4410),
        3: c.encode_ogg_opus(2, 100, 48000, 3),
        4: c.encode_adts([20] * 4, sr_idx=3, channels=2),
        5: c.encode_id3([("TIT2", "x")])
           + c.encode_mp3_frames([(9, 0)] * 2, version="1"),
        6: c.encode_wav(bytes(range(10)), rate=8000, audio_fmt=7),
        7: b"not audio at all",
    }
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "doc_id long, payload binary")
    got = {r["doc_id"]: (r["fmt"], r["channels"], r["sample_rate"])
           for r in M.audio_meta_real(df).collect()}
    assert got[1] == ("wav", 1, 8000)
    assert got[2] == ("flac", 2, 44100)
    assert got[3] == ("opus", 2, 48000)
    assert got[4] == ("aac", 2, 48000)   # ADTS rate index 3
    assert got[5] == ("mp3", 2, 44100)
    assert got[6] == ("wav-ulaw", 1, 8000)
    assert got[7] == (None, None, None)


def test_interval_join_matches_naive_and_stays_equi(spark):
    from pyspark.sql import functions as F

    from nowdb_spark.operators import timeseries as TS

    H = 3_600_000_000_000
    pts = spark.createDataFrame(
        [(1, 0 * H + 5), (1, 3 * H), (1, 12 * H), (2, 3 * H),
         (1, 7 * H - 1), (2, 100 * H)],
        "user_id long, t_ns long")
    iv = spark.createDataFrame(
        [(1, 10, 0, 7 * H), (1, 11, 2 * H, 3 * H), (2, 20, H, 4 * H)],
        "user_id long, interval_id long, start_ns long, end_ns long")
    out = TS.interval_join(pts, iv, "t_ns", "user_id", bucket_ns=H)
    naive = (pts.join(iv, "user_id")
             .where(F.col("t_ns").between(F.col("start_ns"),
                                          F.col("end_ns"))))
    got = sorted((r["user_id"], r["t_ns"], r["interval_id"])
                 for r in out.collect())
    want = sorted((r["user_id"], r["t_ns"], r["interval_id"])
                  for r in naive.collect())
    assert got == want and len(got) == 5   # end bound inclusive
    # the decomposition's point: an EQUI join, never a nested loop
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_matryoshka_batch_funnel(spark):
    """The batch matryoshka funnel's rerank stage is exact: with
    coarse = corpus size the result equals brute-force full-dim
    top-k; with a tight coarse cut it returns k rows per query whose
    sims are a subset of the coarse candidates' exact sims."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    n = emb.count()
    a = {(r["qid"], r["vec_id"], r["rnk"])
         for r in S.matryoshka_topk_batch(
             emb.repartition(5), queries, k=6, coarse=n,
             prefix=16).collect()}
    b = {(r["qid"], r["vec_id"], r["rnk"])
         for r in S.brute_force_topk_batch(emb, queries,
                                           k=6).collect()}
    assert a == b
    tight = S.matryoshka_topk_batch(emb, queries, k=6,
                                    coarse=12, prefix=16)
    cnt = {r["qid"]: r["n"] for r in
           tight.groupBy("qid").agg(F.count("*").alias("n"))
           .collect()}
    assert set(cnt.values()) == {6}


def test_binary_quant_batch_matches_single_query_gate(spark):
    """binary_quant_topk_batch with one query reproduces the ann10
    gate row's semantics (same asymmetric q·sign(d) coarse cut —
    rounded at 1e-6 on both sides so the cut ignores summation
    order — same exact cosine rerank; the gate packs 2×32-bit
    words, the batch packs uint64: layouts differ, scores match)."""
    from nowdb_spark.workload import QUERIES
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.lit(0).alias("qid"),
                 F.col("embedding").alias("qvec")))
    got = {(r["vec_id"], r["sim"])
           for r in S.binary_quant_topk_batch(
               emb.filter(F.col("vec_id") != 0).repartition(5), q,
               k=10, coarse=50).collect()}
    want = {(r["vec_id"], r["sim"])
            for r in QUERIES["ann10_binary_quant"]
            .spark(spark, SF_DIR).collect()}
    assert got == want


def test_binary_quant_batch_coarse_is_exact_asymmetric(spark):
    """The partition-local coarse cut is exact: the returned
    candidates all come from the true top-20 by the asymmetric score
    q·sign(d), recomputed driver-side in numpy."""
    import numpy as np
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .limit(200)
    rows = emb.collect()
    q = (emb.filter(F.col("vec_id") == 1)
         .select(F.lit(1).alias("qid"),
                 F.col("embedding").alias("qvec")))
    out = S.binary_quant_topk_batch(emb.repartition(3), q, k=5,
                                    coarse=20).collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
         for r in rows}
    qv = V[1]

    def asym(d):
        return round(float(np.where(d > 0, qv, -qv).sum()), 6)

    sc = sorted((-asym(v), i) for i, v in V.items())
    got = {r["vec_id"] for r in out if r["rnk"] <= 5}
    # rerank reorders within the coarse set; the coarse set itself
    # must be drawn from the true top-20 by q·sign(d)
    coarse_set = {i for s, i in sc[:20]}
    assert got <= coarse_set


def test_binary_residual_batch_matches_single_query_gate(spark):
    """binary_residual_topk_batch with one query and the gate row's
    centroids reproduces ann12_residual_quant exactly (same residual
    sign bits, same ‖r‖₁/dim scale, same 1e-6-rounded asymmetric
    score, same exact cosine rerank)."""
    from nowdb_spark.workload import QUERIES
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = S.kmeans_centroids(emb, 8, 3)
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.lit(0).alias("qid"),
                 F.col("embedding").alias("qvec")))
    got = {(r["vec_id"], r["sim"])
           for r in S.binary_residual_topk_batch(
               emb.filter(F.col("vec_id") != 0).repartition(5), q,
               k=10, coarse=50, centroids=cents).collect()}
    want = {(r["vec_id"], r["sim"])
            for r in QUERIES["ann12_residual_quant"]
            .spark(spark, SF_DIR).collect()}
    assert got == want
