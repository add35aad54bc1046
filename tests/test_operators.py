"""Quality + correctness tests for the LLM-data operators.

- Oracle-gated entries (minhash/simhash/jaccard/langid/...): hash-match
  DuckDB at sf0.001 (driver re-checks at sf0.01).
- Approximate pipelines (MinHash-LSH, sign-LSH ANN): recall asserted on
  planted near-duplicates — the synthetic corpus is near-random (mean
  top-1 cosine 0.37), so "find the planted neighbor" is the meaningful
  quality bar, not top-k overlap on noise.
- Multimodal: plumbing end-to-end through mapInPandas with the
  deterministic stub decoder.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_rust_spark.catalog import load_table
from etl_rust_spark.functions.hashing import canonical_hash
from etl_rust_spark.operators import dedup, entry_oracle_sql, entry_queries, similarity, text
from tests.oracle import run_duck


@pytest.mark.parametrize("name", sorted(entry_oracle_sql()))
def test_operator_entry_matches_oracle(spark, duck, sf_dir, name):
    df = entry_queries()[name](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    drows, dcols = run_duck(duck, entry_oracle_sql()[name])
    assert sorted(df.columns) == sorted(dcols), name
    assert canonical_hash(rows, df.columns) == canonical_hash(drows, dcols), name


def test_exact_dedupe_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "aa"), (1, "aa"), (2, "bb"), (7, "aa")], ["id", "t"]
    )
    out = dedup.exact_dedupe(df, ["t"], "id").collect()
    assert {(r.t, r.id) for r in out} == {("aa", 1), ("bb", 2)}


def test_minhash_lsh_finds_planted_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    base = docs.select("doc_id", "text").collect()
    # plant: copy of each doc with its first token altered (high Jaccard)
    planted = [(r.doc_id + 100000, "zzz" + r.text[3:]) for r in base]
    aug = docs.select("doc_id", "text").union(
        spark.createDataFrame(planted, ["doc_id", "text"])
    )
    pairs = dedup.minhash_lsh_pairs(aug, "text", "doc_id", threshold=0.5).collect()
    found = {(p.qid, p.cid) for p in pairs}
    expected = {(r.doc_id, r.doc_id + 100000) for r in base}
    recall = len(found & expected) / len(expected)
    assert recall >= 0.9, f"LSH recall {recall} < 0.9 ({len(found)} pairs found)"


def test_lsh_bucket_cap_bounds_degenerate_bucket(spark):
    """VERDICT r5 #2: a planted degenerate bucket (500 identical
    near-empty docs — they share every band key) must not go O(k²).
    With max_bucket=16 the candidate explosion is bounded at C(16,2)
    pairs while a planted genuine near-dup pair is still found, and
    minhash_bucket_stats reports the spill."""
    degenerate = [(i, "x") for i in range(500)]
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    planted = [(1001, base), (1002, base + " x")]
    docs = spark.createDataFrame(degenerate + planted, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.2, max_bucket=16
    ).collect()
    got = {(p.qid, p.cid) for p in pairs}
    assert (1001, 1002) in got  # recall on the genuine near-dup unchanged
    degen_pairs = {p for p in got if p[0] < 1000 and p[1] < 1000}
    assert len(degen_pairs) == 16 * 15 // 2  # capped, not 500*499/2
    st = dedup.minhash_bucket_stats(docs, "text", "doc_id", max_bucket=16)
    assert st["n_spilled"] >= 1
    assert st["max_size"] == 500
    # 4 bands × (C(500,2) - C(16,2)) candidate pairs never generated
    assert st["pairs_saved"] == 4 * (500 * 499 // 2 - 16 * 15 // 2)


def test_curation_report_lsh_stats(spark):
    from etl_rust_spark.operators import curate

    docs = spark.createDataFrame(
        [(i, "y") for i in range(40)] + [(100, "unique text entirely different")],
        ["doc_id", "text"],
    )
    rep = curate.curation_report(
        docs, docs.limit(3), lsh_stats=True, max_bucket=8
    )
    assert rep["input"] == 41 and rep["kept"] == 3
    assert rep["lsh_n_spilled"] >= 1 and rep["lsh_max_size"] == 40
    assert rep["lsh_pairs_saved"] > 0


def test_ann_lsh_recall_on_planted_neighbors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", "embedding").orderBy("vec_id").limit(40).collect()
    rng = np.random.default_rng(7)
    queries = []
    for r in base:
        v = np.array(r.embedding, dtype=np.float64)
        noisy = v + 0.03 * np.linalg.norm(v) / 8.0 * rng.standard_normal(64)
        queries.append((r.vec_id + 100000, [float(x) for x in noisy]))
    qdf = spark.createDataFrame(queries, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    corpus = emb.select("vec_id", "embedding")
    got = (
        similarity.ann_lsh_topk(qdf, corpus, k=1, prefix_bits=4)
        .filter(F.col("rn") == 1)
        .collect()
    )
    hits = sum(1 for r in got if r.cid == r.qid - 100000)
    recall = hits / len(base)
    assert recall >= 0.9, f"ANN recall@1 {recall} < 0.9"


def test_ivf_sample_plan_has_no_sort(spark, sf_dir):
    """VERDICT r5 #6: the IVF training sample must be a scan + hash
    filter — no Sort, no TakeOrdered over the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = similarity._ivf_sample_frame(emb, "vec_id", "embedding", 50, 7)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in plan and "TakeOrdered" not in plan, plan
    assert "Filter" in plan
    # deterministic: two builds collect the identical id set
    ids1 = sorted(r[0] for r in cand.collect())
    ids2 = sorted(
        r[0]
        for r in similarity._ivf_sample_frame(
            emb, "vec_id", "embedding", 50, 7
        ).collect()
    )
    assert ids1 == ids2 and len(ids1) > 0


@pytest.fixture(scope="module")
def sf_ivf_index(spark, sf_dir, tmp_path_factory):
    """One 8-list IVF index over the sf embeddings, shared by the tests
    that only search it."""
    idx = str(tmp_path_factory.mktemp("sf_ivf") / "idx")
    similarity.build_ivf_index(
        load_table(spark, sf_dir, "embeddings"), idx, n_lists=8, seed=7
    )
    return idx


def test_ivf_recall_vs_exact(spark, sf_dir, sf_ivf_index):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") <= 30)
    exact = {
        (r.qid, r.cid)
        for r in similarity.cosine_topk(queries, emb, k=1).filter(F.col("rn") == 1).collect()
    }
    # The synthetic embeddings are near-orthogonal (no cluster structure),
    # the worst case for a learned quantizer — recall requires a high
    # probe fraction here; clustered real-world embeddings need few
    # probes.  8 lists / 8 probes (exhaustive) measured 1.00, 6 → 0.87.
    got = {
        (r.qid, r.cid)
        for r in similarity.ivf_search(queries, sf_ivf_index, k=1, n_probe=6)
        .filter(F.col("rn") == 1)
        .collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.85, f"IVF recall@1 {recall}"


def test_ivf_returns_k_results_when_pair_meets_in_multiple_lists(spark, sf_dir, sf_ivf_index):
    # Regression (VERDICT r1): a (qid, cid) pair probed in several lists
    # used to occupy multiple top-k slots before dedup, evicting genuine
    # k-th neighbors.  The index search joins on each row's stored
    # list_id, so a pair meets once however many lists are probed; with
    # n_probe == n_lists (the worst case) each query must still return
    # exactly k distinct rows.
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") <= 10)
    k = 3
    got = similarity.ivf_search(queries, sf_ivf_index, k=k, n_probe=8).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.qid, []).append((r.cid, r.rn))
    for qid, rows in per_q.items():
        assert len(rows) == k, f"qid {qid}: {len(rows)} rows != {k}"
        assert len({c for c, _ in rows}) == k, f"qid {qid}: duplicate cids {rows}"
        assert sorted(rn for _, rn in rows) == list(range(1, k + 1))
    # exhaustive probing == brute force: must agree with cosine_topk
    exact = {
        (r.qid, r.cid)
        for r in similarity.cosine_topk(queries, emb, k=k).collect()
    }
    assert {(r.qid, r.cid) for r in got} == exact


def test_ivf_is_deterministic_across_runs(spark, sf_dir, sf_ivf_index, tmp_path):
    """Seeded k-means + ordered training sample: an independent rebuild
    with the same parameters returns byte-identical rows (the NEXT.md
    determinism item)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") <= 10)
    idx = str(tmp_path / "rebuilt")
    similarity.build_ivf_index(emb, idx, n_lists=8, seed=7)
    a, b = (
        sorted(map(tuple, similarity.ivf_search(q, p, n_probe=4).collect()))
        for p in (sf_ivf_index, idx)
    )
    assert a == b and len(a) > 0


def test_ivf_recall_on_clustered_embeddings(spark, tmp_path):
    """IVF on data with real cluster structure (NEXT r2 item 6).

    The sf* synthetic embeddings are near-orthogonal — the worst case
    for a learned quantizer, needing n_probe≈n_lists.  Real-world
    embedding corpora are clustered; this fixture plants 16 gaussian
    blobs and asserts the quantizer earns its keep: high recall while
    probing only 2/16 lists (an 8× candidate-set reduction — the whole
    point of IVF at 100 TB).
    """
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(16, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(800):
        c = centers[i % 16]
        v = c + 0.15 * rng.normal(size=32)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 40)

    exact = {
        (r.qid, r.cid)
        for r in similarity.cosine_topk(queries, emb, k=1)
        .filter(F.col("rn") == 1)
        .collect()
    }
    idx = str(tmp_path / "ivf_blobs")
    similarity.build_ivf_index(emb, idx, n_lists=16, sample=800)
    got = {
        (r.qid, r.cid)
        for r in similarity.ivf_search(queries, idx, k=1, n_probe=2)
        .filter(F.col("rn") == 1)
        .collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"clustered IVF recall@1 {recall} with n_probe=2/16"


def test_simhash_hamming_separates_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    base = docs.select("doc_id", "text").collect()
    planted = [(r.doc_id + 100000, "zzz" + r.text[3:]) for r in base]
    aug = docs.select("doc_id", "text").union(
        spark.createDataFrame(planted, ["doc_id", "text"])
    )
    sh = {r.doc_id: r.simhash for r in dedup.simhash(aug, "text", "doc_id").collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    near = [ham(sh[r.doc_id], sh[r.doc_id + 100000]) for r in base]
    far = [
        ham(sh[a.doc_id], sh[b.doc_id])
        for a in base
        for b in base
        if a.doc_id < b.doc_id
    ]
    assert max(near) < np.mean(far), (near, np.mean(far))


def test_multimodal_entry_tagged_union(spark, sf_dir):
    # Oracle-gated tagged union: 51 stub-feature rows (doc_id 0..50),
    # 51 synthetic signature rows, and the planted near-dup pairs — one
    # (ham 1 or 2) pair per trio-member combination, nothing cross-trio.
    df = entry_queries()["op_multimodal_features"](spark, sf_dir)
    rows = df.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r)
    assert len(by_src["feat"]) == 51 and len(by_src["sig"]) == 51
    assert all(r["a"] > 0 for r in by_src["feat"])  # n_bytes
    for p in by_src["pair"]:
        assert p["k"] // 3 == p["a"] // 3  # same trio only
        assert p["b"] in (1, 2)  # planted xor perturbations
    assert len(by_src["pair"]) == 51  # 17 trios x 3 pairs
    assert rows == df.collect()  # deterministic


def test_multimodal_feature_pipeline(spark):
    from etl_rust_spark.operators import multimodal as mm

    rows = [
        (1, "image", b"\x89PNGfake", ("image/png", 32, 32, None, "s3://x/1.png")),
        (2, "video", b"\x00\x00ftyp", ("video/mp4", 640, 480, 3500, "s3://x/2.mp4")),
        (3, "audio", None, ("audio/wav", None, None, 1200, "s3://x/3.wav")),
    ]
    df = mm.make_asset_df(spark, rows)
    feats = mm.extract_features(df).collect()
    assert {r.asset_id for r in feats} == {1, 2, 3}
    byid = {r.asset_id: r for r in feats}
    assert byid[1].n_bytes == 8 and len(byid[1].feature) == 8
    assert byid[3].n_bytes == 0  # None payload handled
    # determinism through the real Arrow path
    feats2 = mm.extract_features(df).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    # frame sampling: 3500 ms @ 1000 ms -> offsets 0,1000,2000,3000
    frames = mm.sample_frames(df).select("asset_id", "frame_ms").collect()
    assert [(r.asset_id, r.frame_ms) for r in sorted(frames, key=lambda r: r.frame_ms)] == [
        (2, 0), (2, 1000), (2, 2000), (2, 3000)
    ]
    # decode_stub=False is now lazy and real: whichever row a partition
    # evaluates first hits its registry — every payload here is a fake
    # (invalid magic / None), so execution raises the registry's "no
    # ... decoder" ValueError (real PNG/WAV/AVI decode is covered in
    # tests/test_mediacodec.py).
    with pytest.raises(Exception, match="no (audio |video )?decoder"):
        mm.extract_features(df, decode_stub=False).collect()


def test_multimodal_resize_plumbing(spark):
    from etl_rust_spark.operators import multimodal as mm

    rows = [
        (1, "image", b"\x89PNGfake", ("image/png", 32, 32, None, "s3://x/1.png")),
        (2, "video", b"\x00\x00ftyp", ("video/mp4", 640, 480, 3500, "s3://x/2.mp4")),
        (3, "image", None, ("image/png", 8, 8, None, "s3://x/3.png")),
    ]
    df = mm.make_asset_df(spark, rows)
    out = mm.resize_images(df, 16, 16)
    assert out.schema == df.schema  # asset schema preserved end to end
    byid = {r.asset_id: r for r in out.collect()}
    assert len(byid) == 3
    # images: meta carries the new dims, payload replaced (stub bytes)
    assert (byid[1].meta.width, byid[1].meta.height) == (16, 16)
    assert bytes(byid[1].payload) != b"\x89PNGfake"
    assert byid[1].meta.mime == "image/png" and byid[1].meta.source_uri == "s3://x/1.png"
    # non-image passes through untouched
    assert (byid[2].meta.width, byid[2].meta.height) == (640, 480)
    assert bytes(byid[2].payload) == b"\x00\x00ftyp"
    # determinism through the Arrow path + None payload handled
    again = {r.asset_id: bytes(r.payload) for r in mm.resize_images(df, 16, 16).collect()}
    assert bytes(byid[1].payload) == again[1] and bytes(byid[3].payload) == again[3]
    # decode_stub=False is lazy and real: the fake-PNG payload here has
    # no registered decoder, so execution raises (real PNG round-trip is
    # covered in tests/test_mediacodec.py).
    with pytest.raises(Exception, match="no decoder"):
        mm.resize_images(df, 16, 16, decode_stub=False).collect()


def test_langid_agrees_with_sql_form(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    api = text.language_id(docs, "text", "doc_id")
    from etl_rust_spark.catalog import register_views

    register_views(spark, sf_dir)
    sql = spark.sql(text.langid_sql(50)[0])
    assert canonical_hash([tuple(r) for r in api.collect()], api.columns) == canonical_hash(
        [tuple(r) for r in sql.collect()], sql.columns
    )


def test_repetition_stats_three_way(spark, duck, sf_dir):
    """Operator DataFrame == Spark SQL form == DuckDB form."""
    from etl_rust_spark.catalog import register_views
    from tests.oracle import run_duck

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    api = text.repetition_stats(docs, "text", "doc_id").orderBy("doc_id")
    register_views(spark, sf_dir)
    sp_sql, du_sql = text.repetition_stats_sql(100)
    sql = spark.sql(sp_sql)
    h_api = canonical_hash([tuple(r) for r in api.collect()], api.columns)
    h_sql = canonical_hash([tuple(r) for r in sql.collect()], sql.columns)
    drows, dcols = run_duck(duck, du_sql)
    assert h_api == h_sql == canonical_hash(drows, dcols)


def test_repetition_stats_flags_looping_text(spark):
    rows = [
        (1, "spam spam spam spam spam spam"),
        (2, "all tokens here are fully distinct words"),
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.repetition_stats(df, "text", "doc_id").collect()}
    assert got[1]["top_tok_frac"] == 1.0 and got[1]["top_2gram_frac"] == 1.0
    assert got[2]["top_tok_frac"] < 0.2
    # single-token doc: no 2-grams, frac coalesces to 0
    assert got[3]["n_grams"] == 0 and got[3]["top_2gram_frac"] == 0.0


def test_semantic_dedupe_drops_planted_twins(spark, sf_dir):
    """SemDeDup: planted near-identical embeddings (tiny noise) drop —
    min id of each twin group survives — while the near-orthogonal base
    corpus is untouched; deterministic across runs."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.orderBy("vec_id").limit(30).collect()
    rng = np.random.default_rng(3)
    twins = []
    for r in base[:10]:
        v = np.array(r.embedding, dtype=np.float64)
        noisy = v + 0.001 * np.linalg.norm(v) * rng.standard_normal(64)
        twins.append((r.vec_id + 500000, [float(x) for x in noisy]))
    aug = emb.union(
        spark.createDataFrame(twins, ["vec_id", "embedding"]).withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        )
    )
    kept = {r.vec_id for r in similarity.semantic_dedupe(aug, threshold=0.95).collect()}
    # every twin (higher id) dropped, every original kept
    assert all(t_id not in kept for t_id, _ in twins)
    assert all(r.vec_id in kept for r in base)
    kept2 = {r.vec_id for r in similarity.semantic_dedupe(aug, threshold=0.95).collect()}
    assert kept == kept2


def test_cosine_join_cross_corpus(spark, sf_dir):
    """Cross-corpus similarity join equals the brute-force pair set;
    null embeddings are skipped, ids may collide across corpora."""
    import numpy as np

    from etl_rust_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 8))
    left_rows = [(i, [float(x) for x in base[i]]) for i in range(4)]
    # right: 0 = near-copy of left 1; 1 = its own direction; 2 = null
    right_vecs = [base[1] + 0.01 * rng.normal(size=8), base[5], None]
    right_rows = [
        (i, None if v is None else [float(x) for x in v])
        for i, v in enumerate(right_vecs)
    ]
    left = spark.createDataFrame(left_rows, ["vec_id", "embedding"])
    right = spark.createDataFrame(right_rows, ["vec_id", "embedding"])
    got = {
        (r.lid, r.rid): r.cos
        for r in similarity.cosine_join(left, right, 0.9, n_shards=2).collect()
    }
    # brute force
    want = {}
    for i, lv in left_rows:
        for j, rv in right_rows:
            if rv is None:
                continue
            a, b = np.array(lv), np.array(rv)
            c = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 4)
            if c >= 0.9:
                want[(i, j)] = c
    assert got == want and (1, 0) in got


def test_ivf_index_build_and_search(spark, sf_dir, sf_ivf_index):
    """Persisted IVF index: probing every list, search equals exact
    cosine_topk row for row, and the probe scan reads only the probed
    list partitions."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    idx = sf_ivf_index
    q = emb.filter("vec_id <= 10")
    got = similarity.ivf_search(q, idx, k=3, n_probe=8).orderBy("qid", "rn")
    want = similarity.cosine_topk(q, emb, k=3).orderBy("qid", "rn")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    # pruning: the corpus read carries a partition filter on list_id
    probed = similarity.ivf_search(q, idx, k=3, n_probe=3)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "list_id" in plan
    assert probed.count() == 33

    parts = [d for d in os.listdir(f"{idx}/corpus") if d.startswith("list_id=")]
    assert len(parts) >= 4  # real multi-list layout on this corpus


def test_ivf_index_incremental_update(spark, sf_dir, tmp_path):
    """update_ivf_index: new ids append, changed ids replace (even when
    the new vector re-assigns to a different list — the old-partition
    row is removed), replay is idempotent, and the updated index equals
    a fresh rebuild-assignment over the updated corpus."""
    import numpy as np

    from etl_rust_spark.catalog import load_table
    from etl_rust_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter("vec_id < 180")
    idx = str(tmp_path / "ivf_up")
    similarity.build_ivf_index(base, idx, n_lists=8, seed=7)
    cent = np.array(
        [
            r["centroid"]
            for r in sorted(
                spark.read.parquet(f"{idx}/centroids").collect(),
                key=lambda r: r["list_id"],
            )
        ]
    )
    # delta: 10 new ids + 5 existing ids whose vectors now equal OTHER
    # docs' vectors (forcing list moves for at least some of them)
    new_rows = emb.filter("vec_id >= 180 AND vec_id < 190").select("vec_id", "embedding")
    moved = (
        emb.filter("vec_id >= 50 AND vec_id < 55")
        .selectExpr("vec_id - 50 AS vec_id", "embedding")
    )
    delta = new_rows.unionByName(moved)
    similarity.update_ivf_index(delta, idx)
    got = spark.read.parquet(f"{idx}/corpus")
    assert got.count() == 190
    assert got.select("cid").distinct().count() == 190  # no duplicate ids
    # equality with a from-scratch assignment of the same corpus
    updated_corpus = base.filter("vec_id >= 5").select("vec_id", "embedding").unionByName(delta)
    want = similarity.ivf_assign(updated_corpus, cent)
    j = got.select("cid", F.col("list_id").alias("l1")).join(
        want.select("cid", F.col("list_id").alias("l2")), "cid", "full"
    )
    assert j.filter(
        F.col("l1").isNull() | F.col("l2").isNull() | (F.col("l1") != F.col("l2"))
    ).count() == 0
    # replay idempotence
    similarity.update_ivf_index(delta, idx)
    assert spark.read.parquet(f"{idx}/corpus").count() == 190


def test_ivf_index_quantized(spark, sf_dir, tmp_path):
    """quantize=True: the index stores int8 vectors (4x smaller), list
    placement is identical to the full-precision index, search recall
    vs the fp index is >= 0.95, and incremental updates stay int8."""
    from etl_rust_spark.catalog import load_table
    from etl_rust_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter("vec_id < 170")
    fp_idx = str(tmp_path / "ivf_fp")
    q_idx = str(tmp_path / "ivf_q8")
    similarity.build_ivf_index(base, fp_idx, n_lists=8, seed=7)
    similarity.build_ivf_index(base, q_idx, n_lists=8, seed=7, quantize=True)

    qcorp = spark.read.parquet(f"{q_idx}/corpus")
    assert "qvec" in qcorp.columns and "cv" not in qcorp.columns
    assert dict(qcorp.dtypes)["qvec"] == "array<tinyint>"
    # identical list placement (assignment ran full-precision)
    fp = spark.read.parquet(f"{fp_idx}/corpus").select(
        "cid", F.col("list_id").alias("l1")
    )
    j = fp.join(qcorp.select("cid", F.col("list_id").alias("l2")), "cid", "full")
    assert j.filter(
        F.col("l1").isNull() | F.col("l2").isNull() | (F.col("l1") != F.col("l2"))
    ).count() == 0

    queries = emb.filter("vec_id < 10")
    want = {
        (r.qid, r.cid)
        for r in similarity.ivf_search(queries, fp_idx, k=3, n_probe=3).collect()
    }
    got = {
        (r.qid, r.cid)
        for r in similarity.ivf_search(queries, q_idx, k=3, n_probe=3).collect()
    }
    assert len(got & want) / len(want) >= 0.95

    # incremental update keeps the int8 layout
    delta = emb.filter("vec_id >= 170 AND vec_id < 180")
    similarity.update_ivf_index(delta, q_idx)
    after = spark.read.parquet(f"{q_idx}/corpus")
    assert after.count() == 180 and "qvec" in after.columns


def test_ivf_update_purges_emptied_list_partition(spark, tmp_path):
    """ADVICE r6 (high): dynamic partition overwrite never touches a
    partition absent from the output, so when a delta moved the SOLE
    occupant of a list to another list, the old partition kept the
    stale row — the moved vector answered searches from BOTH lists.
    The fix deletes dirty-but-empty list directories after the write."""
    import pathlib

    import numpy as np

    idx = str(tmp_path / "ivf_sole")
    cent = np.eye(3)
    spark.createDataFrame(
        [(j, [float(x) for x in cent[j]]) for j in range(3)],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.parquet(f"{idx}/centroids")
    rows = (
        [(i, [1.0, 0.0, 0.0]) for i in range(5)]
        + [(10 + i, [0.0, 1.0, 0.0]) for i in range(5)]
        + [(99, [0.0, 0.0, 1.0])]  # sole occupant of list 2
    )
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    similarity.ivf_assign(corpus, cent).write.partitionBy("list_id").parquet(
        f"{idx}/corpus"
    )
    assert spark.read.parquet(f"{idx}/corpus").filter("list_id = 2").count() == 1

    # re-ingest id 99 pointing at cluster 0: list 2 becomes empty
    delta = spark.createDataFrame(
        [(99, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    similarity.update_ivf_index(delta, idx)
    got = spark.read.parquet(f"{idx}/corpus")
    assert got.count() == 11
    assert got.select("cid").distinct().count() == 11  # no duplicate cid
    assert [r["list_id"] for r in got.filter("cid = 99").collect()] == [0]
    assert got.filter("list_id = 2").count() == 0
    assert not (pathlib.Path(idx) / "corpus" / "list_id=2").exists()
    # session conf was not mutated (ADVICE r6 low: per-write option)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "static"
    )


def test_cosine_join_fold_matches_duckdb_exactly(spark, tmp_path):
    """ADVICE r6 (medium): the hash-gated cosine_join must reproduce the
    DuckDB mirror's sequential-fold dot + ROUND (half away from zero)
    bit-for-bit, including pairs sitting exactly ON the threshold.
    Integer-valued embeddings make every dot exact, so any divergence
    is rounding-mode/association-order, precisely what's under test."""
    import duckdb

    rng = np.random.default_rng(11)
    dim = 16
    lrows = [(i, [float(x) for x in rng.integers(-5, 6, dim)]) for i in range(12)]
    rrows = [(i, [float(x) for x in rng.integers(-5, 6, dim)]) for i in range(30)]
    left = spark.createDataFrame(lrows, "vec_id long, embedding array<double>")
    right = spark.createDataFrame(rrows, "vec_id long, embedding array<double>")

    con = duckdb.connect()
    con.execute("CREATE TABLE l (vec_id BIGINT, embedding DOUBLE[])")
    con.execute("CREATE TABLE r (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO l VALUES (?, ?)", lrows)
    con.executemany("INSERT INTO r VALUES (?, ?)", rrows)
    ddot = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "i -> a.embedding[i] * b.embedding[i]))"
    ).format(d=dim)
    dnrm = (
        "sqrt(list_sum(list_transform(range(1, {d} + 1), "
        "i -> embedding[i] * embedding[i])))"
    ).format(d=dim)

    def duck_pairs(thr):
        return {
            (r[0], r[1]): r[2]
            for r in con.execute(
                f"""WITH ln AS (SELECT vec_id, embedding, {dnrm} AS nrm FROM l),
                 rn AS (SELECT vec_id, embedding, {dnrm} AS nrm FROM r)
                SELECT a.vec_id, b.vec_id,
                       ROUND({ddot} / (a.nrm * b.nrm), 4) + 0.0
                FROM ln a, rn b
                WHERE ROUND({ddot} / (a.nrm * b.nrm), 4) >= {thr}"""
            ).fetchall()
        }

    want = duck_pairs(-1.0)
    got = {
        (r.lid, r.rid): r.cos
        for r in similarity.cosine_join(left, right, -1.0, n_shards=3).collect()
    }
    assert got == want  # exact float equality, all 360 pairs
    # threshold sitting exactly ON an attained rounded cosine: boundary
    # pairs must be included identically by both engines
    thr = sorted(want.values())[len(want) // 2]
    got_b = {
        (r.lid, r.rid): r.cos
        for r in similarity.cosine_join(left, right, thr, n_shards=3).collect()
    }
    assert got_b == duck_pairs(thr)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — billion-vector memory-scale ANN
# ---------------------------------------------------------------------------


def _clustered_emb(spark, n=600, dim=32, n_centers=16, seed=11):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_centers, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(n):
        v = centers[i % n_centers] + 0.15 * rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_pq_train_is_deterministic_and_shaped(spark):
    emb = _clustered_emb(spark)
    a = similarity.train_pq(emb, m=8, k=16)
    b = similarity.train_pq(emb, m=8, k=16)
    assert a.shape == (8, 16, 4)  # 32-dim / m=8 -> 4-dim subspaces
    assert (a == b).all()
    with pytest.raises(ValueError, match="not divisible"):
        similarity.train_pq(emb, m=5)


def test_pq_encode_codes_and_null_guard(spark):
    emb = _clustered_emb(spark, n=100)
    emb = emb.unionByName(
        spark.createDataFrame([(999, None)], emb.schema)
    )
    books = similarity.train_pq(emb.filter(F.col("embedding").isNotNull()), m=8, k=16)
    codes = similarity.pq_encode(emb, books).collect()
    assert len(codes) == 100  # null embedding dropped, not crashed
    assert all(len(r.codes) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r.codes)


@pytest.fixture(scope="module")
def clustered_pq_index(spark, tmp_path_factory):
    """(corpus, path): one raw IVF x PQ index over the 600-row blob
    fixture — 16 lists, m=16 subspaces of dim 2 (32 floats -> 16 uint8
    codes), 16 codewords each — shared by the tests that only search it."""
    emb = _clustered_emb(spark)
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    similarity.build_ivfpq_index(emb, path, n_lists=16, m=16, k_codes=16)
    return emb, path


def test_pq_topk_recall_and_shape_on_clustered_embeddings(spark, clustered_pq_index):
    """PQ quality bars on clustered data (m=16 subspaces of dim 2:
    32 floats -> 16 uint8 codes, 16x smaller than float64 storage).
    Probing every list, the survivors are the whole codes table: ADC
    alone must surface the exact top-1 within its top-10 shortlist
    (quantization erases within-cluster ordering by design — offline
    sweep: m=8/k=16 gives 0.775, m=16/k=16 gives 0.975), and the
    IVFADC+R refined path must then pin recall@1."""
    emb, path = clustered_pq_index
    queries = emb.filter(F.col("vec_id") < 40)

    exact = {
        r.qid: r.cid
        for r in similarity.cosine_topk(queries, emb, k=1)
        .filter(F.col("rn") == 1)
        .collect()
    }
    got_rows = similarity.ivfpq_search(queries, path, k=10, nprobe=16).collect()
    per_q: dict = {}
    for r in got_rows:
        assert r.qid != r.cid  # self-match excluded like cosine_topk
        per_q.setdefault(r.qid, set()).add(r.cid)
        assert 1 <= r.rn <= 10
    shortlist_recall = sum(
        1 for qid, cid in exact.items() if cid in per_q.get(qid, set())
    ) / len(exact)
    assert shortlist_recall >= 0.9, f"ADC recall@10 {shortlist_recall}"

    refined = similarity.ivfpq_search(
        queries, path, k=3, nprobe=16, refine_with=emb, refine_factor=4
    ).collect()
    per_q2: dict = {}
    for r in refined:
        per_q2.setdefault(r.qid, []).append(r.rn)
    assert all(sorted(v) == [1, 2, 3] for v in per_q2.values())
    got1 = {(r.qid, r.cid) for r in refined if r.rn == 1}
    recall = len(got1 & set(exact.items())) / len(exact)
    assert recall >= 0.9, f"refined PQ recall@1 {recall}"


def test_pq_topk_is_deterministic(spark, clustered_pq_index):
    emb, path = clustered_pq_index
    q = emb.filter(F.col("vec_id") < 10)
    a = sorted(map(tuple, similarity.ivfpq_search(q, path, k=3, nprobe=16).collect()))
    b = sorted(map(tuple, similarity.ivfpq_search(q, path, k=3, nprobe=16).collect()))
    assert a == b and len(a) == 30


def test_ivf_pq_topk_prunes_lists_and_keeps_recall(spark, clustered_pq_index):
    """IVF x PQ composition: coarse lists prune the corpus before ADC
    scoring.  On 16 planted blobs with nprobe=4/16 the candidate set is
    ~4x smaller, and recall@1 vs exact cosine must hold."""
    emb, path = clustered_pq_index
    queries = emb.filter(F.col("vec_id") < 30)
    exact = {
        (r.qid, r.cid)
        for r in similarity.cosine_topk(queries, emb, k=1)
        .filter(F.col("rn") == 1)
        .collect()
    }
    got = {
        (r.qid, r.cid)
        for r in similarity.ivfpq_search(
            queries,
            path,
            k=1,
            nprobe=4,
            refine_with=emb,
            # k=1 makes the shortlist width k*factor; 10 matches the
            # measured ADC recall@10 (0.975) on this fixture
            refine_factor=10,
        )
        .filter(F.col("rn") == 1)
        .collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.85, f"IVF x PQ recall@1 {recall} with nprobe=4/16"


def test_ivfpq_search_prunes_list_partitions(spark, tmp_path):
    """The codes scan must carry a list_id partition filter (directory
    pruning) — the memory-scale point of the composition."""
    import re

    emb = _clustered_emb(spark, n=300)
    path = str(tmp_path / "ivfpq_plan")
    similarity.build_ivfpq_index(emb, path, n_lists=8, m=8, k_codes=8, sample=300)
    out = similarity.ivfpq_search(emb.filter("vec_id < 5"), path, k=2, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*list_id[^\]]*\]", plan)
    assert m, "codes scan lost its list_id partition filter"


def test_ivfpq_index_incremental_update(spark, tmp_path):
    """update_ivfpq_index mirrors the IVF invariants: new ids append,
    changed ids replace (cross-list moves remove the old-partition
    row), replay is idempotent, the updated codes equal a from-scratch
    encode+assign with the stored artifacts, and a dirty-but-emptied
    list partition is purged (the ADVICE-r6 sole-occupant bug class)."""
    import pathlib

    emb = _clustered_emb(spark, n=260)
    base = emb.filter("vec_id < 240")
    path = str(tmp_path / "ivfpq_up")
    similarity.build_ivfpq_index(base, path, n_lists=8, m=8, k_codes=8, sample=240)
    cent, books, _res = similarity._read_ivfpq_artifacts(spark, path)

    new_rows = emb.filter("vec_id >= 240").select("vec_id", "embedding")
    moved = emb.filter("vec_id >= 100 AND vec_id < 105").selectExpr(
        "vec_id - 100 AS vec_id", "embedding"
    )
    delta = new_rows.unionByName(moved)
    similarity.update_ivfpq_index(delta, path)
    got = spark.read.parquet(f"{path}/codes")
    assert got.count() == 260
    assert got.select("cid").distinct().count() == 260
    updated = base.filter("vec_id >= 5").select("vec_id", "embedding").unionByName(delta)
    want = similarity.pq_encode(updated, books).join(
        similarity.ivf_assign(updated, cent).select("cid", "list_id"), "cid"
    )
    j = got.select("cid", "list_id", "codes").join(
        want.select(
            "cid", F.col("list_id").alias("l2"), F.col("codes").alias("c2")
        ),
        "cid",
        "full",
    )
    assert (
        j.filter(
            F.col("list_id").isNull()
            | F.col("l2").isNull()
            | (F.col("list_id") != F.col("l2"))
            | (F.col("codes") != F.col("c2"))
        ).count()
        == 0
    )
    similarity.update_ivfpq_index(delta, path)  # replay idempotence
    assert spark.read.parquet(f"{path}/codes").count() == 260


def test_ivfpq_update_purges_emptied_list_partition(spark, tmp_path):
    import pathlib

    path = str(tmp_path / "ivfpq_sole")
    cent = np.eye(4)
    spark.createDataFrame(
        [(j, [float(x) for x in cent[j]]) for j in range(4)],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.parquet(f"{path}/centroids")
    books = np.stack([np.eye(2)[:2] for _ in range(2)])  # m=2, k=2, d_sub=2
    spark.createDataFrame(
        [
            (j, c, [float(x) for x in books[j][c]])
            for j in range(2)
            for c in range(2)
        ],
        "j int, c int, codeword array<double>",
    ).coalesce(1).write.parquet(f"{path}/codebooks")
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(5)] + [
        (99, [0.0, 0.0, 1.0, 0.0])  # sole occupant of list 2
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    coded = similarity.pq_encode(corpus, books).join(
        similarity.ivf_assign(corpus, cent).select("cid", "list_id"), "cid"
    )
    coded.write.partitionBy("list_id").parquet(f"{path}/codes")
    assert spark.read.parquet(f"{path}/codes").filter("list_id = 2").count() == 1

    delta = spark.createDataFrame(
        [(99, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    similarity.update_ivfpq_index(delta, path)
    got = spark.read.parquet(f"{path}/codes")
    assert got.count() == 6
    assert [r["list_id"] for r in got.filter("cid = 99").collect()] == [0]
    assert got.filter("list_id = 2").count() == 0
    assert not (pathlib.Path(path) / "codes" / "list_id=2").exists()


def test_residual_pq_beats_raw_pq_recall(spark, tmp_path):
    """The IVFADC residual design must earn its keep: on clustered data
    the residuals are the small within-cluster offsets, so the same
    (m, k) bit budget resolves neighbor ORDER that raw-vector codebooks
    blur.  Compare ADC-only recall@1 (no refine) of a raw and a residual
    build at identical budgets, every list probed."""
    emb = _clustered_emb(spark)
    queries = emb.filter(F.col("vec_id") < 40)
    exact = {
        (r.qid, r.cid)
        for r in similarity.cosine_topk(queries, emb, k=1)
        .filter(F.col("rn") == 1)
        .collect()
    }

    def recall_of(pairs):
        got = {(r.qid, r.cid) for r in pairs if r.rn == 1}
        return len(got & exact) / len(exact)

    def search(residual, k):
        path = str(tmp_path / f"pq_res_{residual}")
        similarity.build_ivfpq_index(
            emb, path, n_lists=16, m=8, k_codes=16, residual=residual
        )
        return similarity.ivfpq_search(queries, path, k=k, nprobe=16).collect()

    raw_rec = recall_of(search(False, 1))
    res_rows = search(True, 10)
    res_rec = recall_of(res_rows)
    # offline sweep at this budget (m=8, k=16): raw ADC@1 0.175 /
    # @10 0.775; residual ADC@1 0.400 / @10 0.975 — i.e. residual at
    # HALF the budget matches what raw needed m=16 for (the IVFADC
    # paper's point).  Bars sit under the measured values with margin.
    assert res_rec >= raw_rec + 0.15, f"residual {res_rec} vs raw {raw_rec}"
    per_q: dict = {}
    for r in res_rows:
        per_q.setdefault(r.qid, set()).add(r.cid)
    shortlist10 = sum(
        1 for qid, cid in exact if cid in per_q.get(qid, set())
    ) / len(exact)
    assert shortlist10 >= 0.9, f"residual ADC recall@10 {shortlist10}"


def test_residual_ivfpq_index_build_search_update(spark, tmp_path):
    """residual=True flows through the persisted index end to end: the
    meta flag switches search to residual scoring, refine still works,
    and incremental update encodes residuals."""
    emb = _clustered_emb(spark, n=400)
    base = emb.filter("vec_id < 360")
    q = emb.filter(F.col("vec_id") < 15)
    path = str(tmp_path / "ivfpq_res")
    similarity.build_ivfpq_index(
        base, path, n_lists=8, m=8, k_codes=16, sample=360, residual=True
    )
    cent, books, res = similarity._read_ivfpq_artifacts(spark, path)
    assert res is True
    got = similarity.ivfpq_search(q, path, k=3, nprobe=3).collect()
    assert len(got) == 45 and {r.qid for r in got} == set(range(15))

    similarity.update_ivfpq_index(emb.filter("vec_id >= 360"), path)
    after = spark.read.parquet(f"{path}/codes")
    assert after.count() == 400 and after.select("cid").distinct().count() == 400
    # updated rows equal a from-scratch residual encode
    want_all = similarity.pq_encode(emb, books, centroids=cent)
    j = after.select("cid", "list_id", "codes").join(
        want_all.select("cid", F.col("list_id").alias("l2"), F.col("codes").alias("c2")),
        "cid",
        "full",
    )
    assert (
        j.filter(
            F.col("list_id").isNull()
            | F.col("l2").isNull()
            | (F.col("list_id") != F.col("l2"))
            | (F.col("codes") != F.col("c2"))
        ).count()
        == 0
    )
    # refined residual search hits exact top-1
    exact = {
        (r.qid, r.cid)
        for r in similarity.cosine_topk(q, emb, k=1).filter(F.col("rn") == 1).collect()
    }
    ref = similarity.ivfpq_search(
        q, path, k=1, nprobe=8, refine_with=emb, refine_factor=10
    )
    got1 = {(r.qid, r.cid) for r in ref.filter(F.col("rn") == 1).collect()}
    assert len(got1 & exact) / len(exact) >= 0.9


def test_ivfpq_unreadable_meta_raises(spark, tmp_path):
    """An index whose ``meta`` table exists but cannot be read must
    raise: reading it as a raw index would score residual codes as raw
    PQ and return wrong neighbours without an error.  An index with no
    ``meta`` table at all (the pre-flag layout) still reads as raw."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    path = tmp_path / "ivfpq_meta"
    tables = {
        "centroids": {"list_id": [0, 1], "centroid": [[1.0, 0.0], [0.0, 1.0]]},
        "codebooks": {"j": [0, 0], "c": [0, 1], "codeword": [[1.0, 0.0], [0.0, 1.0]]},
        "meta": {"residual": [True]},
    }
    for name, cols in tables.items():
        (path / name).mkdir(parents=True)
        pq.write_table(pa.table(cols), str(path / name / "part-00000.parquet"))
    assert similarity._read_ivfpq_artifacts(spark, str(path))[2] is True

    (path / "meta" / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises((AnalysisException, Py4JJavaError)):
        similarity._read_ivfpq_artifacts(spark, str(path))
    shutil.rmtree(path / "meta")
    cent, books, residual = similarity._read_ivfpq_artifacts(spark, str(path))
    assert residual is False and cent.shape == (2, 2) and books.shape == (1, 2, 2)


def test_ivfpq_update_purge_crash_window_replay_heals(spark, tmp_path, monkeypatch):
    """The update's crash window: the partition overwrite commits, then
    the emptied-list purge runs.  A crash BETWEEN them leaves the moved
    vector searchable in both lists (the documented pre-purge state) —
    and replaying the same delta afterwards must heal to the clean
    post-purge state (replay idempotency is the recovery story)."""
    import pathlib

    path = str(tmp_path / "ivfpq_crash")
    cent = np.eye(4)
    spark.createDataFrame(
        [(j, [float(x) for x in cent[j]]) for j in range(4)],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.parquet(f"{path}/centroids")
    books = np.stack([np.eye(2)[:2] for _ in range(2)])
    spark.createDataFrame(
        [(j, c, [float(x) for x in books[j][c]]) for j in range(2) for c in range(2)],
        "j int, c int, codeword array<double>",
    ).coalesce(1).write.parquet(f"{path}/codebooks")
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(4)] + [
        (99, [0.0, 0.0, 1.0, 0.0])  # sole occupant of list 2
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    coded = similarity.pq_encode(corpus, books).join(
        similarity.ivf_assign(corpus, cent).select("cid", "list_id"), "cid"
    )
    coded.write.partitionBy("list_id").parquet(f"{path}/codes")

    delta = spark.createDataFrame(
        [(99, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )

    import pytest as _pytest

    def boom(*a, **k):
        raise RuntimeError("injected crash before purge")

    monkeypatch.setattr(similarity, "_delete_list_partitions", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        similarity.update_ivfpq_index(delta, path)
    # pre-purge state: new row committed, stale sole-occupant remains
    mid = spark.read.parquet(f"{path}/codes")
    assert sorted(r["list_id"] for r in mid.filter("cid = 99").collect()) == [0, 2]

    monkeypatch.undo()
    similarity.update_ivfpq_index(delta, path)  # replay heals
    after = spark.read.parquet(f"{path}/codes")
    assert after.count() == 5
    assert [r["list_id"] for r in after.filter("cid = 99").collect()] == [0]
    assert not (pathlib.Path(path) / "codes" / "list_id=2").exists()


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_kmeans_training_hash_matches_duckdb(spark, sf):
    """K-MEANS TRAINING hash-gated (the seam every verdict named:
    "iterative refinement isn't SQL").  Fixed-point BIGINT state makes
    assignment distances and centroid sums exact integer math, the only
    float op is one shared IEEE divide + half-up round, and a fixed
    iteration count unrolls into chained CTEs — so the full training
    loop (init -> 3x assign/update incl. empty-cluster carry)
    hash-matches DuckDB bit-for-bit.  Pinned here at two SFs rather
    than widened into the 50-entry driver union: the member costs
    Spark ~1.55 s at sf0.1 (3 iterations of job-dispatch floor) vs
    DuckDB 0.23 s — a deliberate bench-ratio call, documented in
    SURVEY §2.6b."""
    from tests.oracle import duck_connect, run_duck

    emb = load_table(spark, sf, "embeddings")
    cent = similarity.kmeans_fixed(emb, k=8, iters=3)
    rows = [
        ("km", int(r["j"]), int(p), float(v) / 1000 + 0.0, 1)
        for r in cent.collect()
        for p, v in enumerate(r["c"])
    ]
    duck = duck_connect(sf)
    drows, dcols = run_duck(duck, similarity.kmeans_fixed_duck_sql(8, 3))
    cols = ["src", "qid", "cid", "cos", "rn"]
    assert sorted(cols) == sorted(dcols)
    assert canonical_hash(rows, cols) == canonical_hash(drows, dcols)


def test_kmeans_fixed_empty_cluster_carry_and_determinism(spark):
    """An init centroid with no members after reassignment must carry
    unchanged through the update (both dialects COALESCE) — planted by
    duplicating one far outlier as init seed k-1 whose cluster drains."""
    rows = [(i, [float(i % 3), 0.0]) for i in range(30)] + [(100, [50.0, 50.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {r["j"]: r["c"] for r in similarity.kmeans_fixed(emb, k=4, iters=2).collect()}
    b = {r["j"]: r["c"] for r in similarity.kmeans_fixed(emb, k=4, iters=2).collect()}
    assert a == b and len(a) == 4
    import duckdb
    import pandas as pd

    from tests.oracle import run_duck

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    emb_pd = pd.DataFrame(
        {"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}
    )
    con.register("embeddings", emb_pd)
    drows, dcols = run_duck(con, similarity.kmeans_fixed_duck_sql(4, 2, dim=2))
    want = [
        ("km", int(j), int(p), float(v) / 1000 + 0.0, 1)
        for j, c in sorted(a.items())
        for p, v in enumerate(c)
    ]
    assert canonical_hash(want, ["src", "qid", "cid", "cos", "rn"]) == canonical_hash(
        drows, dcols
    )


def test_read_archive_assets_zip_and_tar(spark, tmp_path):
    """Archive ingestion (r8): zip + tar.gz shards of media files →
    asset rows with deterministic ids, unpacked executor-side; unknown
    extensions skipped; corrupt archives raise or skip by option."""
    import io
    import tarfile
    import zipfile

    import numpy as np

    from etl_rust_spark.operators import mediacodec as mc
    from etl_rust_spark.operators import multimodal
    from etl_rust_spark.operators.jpegcodec import encode_jpeg

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    wav = mc.encode_wav(0.2 * np.sin(np.arange(400) / 5.0), 8000)
    with zipfile.ZipFile(tmp_path / "shard0.zip", "w") as zf:
        zf.writestr("a/one.png", mc.encode_png(img))
        zf.writestr("a/two.jpg", encode_jpeg(img, 90))
        zf.writestr("notes.txt", b"skip me")
    with tarfile.open(tmp_path / "shard1.tar.gz", "w:gz") as tf:
        for name, payload in [("b/one.png", mc.encode_png(img)), ("b/snd.wav", wav)]:
            ti = tarfile.TarInfo(name)
            ti.size = len(payload)
            tf.addfile(ti, io.BytesIO(payload))

    df = multimodal.read_archive_assets(spark, str(tmp_path) + "/*")
    rows = df.collect()
    got = sorted((r.modality, r.meta.source_uri.rsplit("!", 1)[1]) for r in rows)
    assert got == [("audio", "b/snd.wav"), ("image", "a/one.png"),
                   ("image", "a/two.jpg"), ("image", "b/one.png")]
    assert all(r.meta.mime for r in rows)
    # the payloads really decode through the registry
    feats = multimodal.extract_features(df, decode_stub=False).collect()
    assert len(feats) == 4 and {r.modality for r in feats} == {"image", "audio"}
    # deterministic ids across re-reads (the ingest id discipline)
    again = multimodal.read_archive_assets(spark, str(tmp_path) + "/*")
    assert sorted(r.asset_id for r in rows) == sorted(
        r.asset_id for r in again.collect()
    )
    # corrupt archive: raise by default, skip on request
    (tmp_path / "bad.zip").write_bytes(b"PK\x03\x04garbage")
    import pytest as _pytest

    with _pytest.raises(Exception):
        multimodal.read_archive_assets(spark, str(tmp_path) + "/*").collect()
    assert multimodal.read_archive_assets(
        spark, str(tmp_path) + "/*", on_error="skip"
    ).count() == 4


def test_cli_ingest_assets(spark, tmp_path, capsys):
    import json as _json
    import zipfile

    import numpy as np

    from etl_rust_spark.__main__ import main
    from etl_rust_spark.operators import mediacodec as mc

    rng = np.random.default_rng(6)
    with zipfile.ZipFile(tmp_path / "s.zip", "w") as zf:
        zf.writestr("x.png", mc.encode_png(
            rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        ))
        zf.writestr("y.wav", mc.encode_wav(np.sin(np.arange(300) / 6.0), 8000))
    out = str(tmp_path / "assets")
    assert main(["ingest-assets", str(tmp_path / "*.zip"),
                 "--out", out, "--features"]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"assets": 2, "features": 2}
    got = {r.modality for r in spark.read.parquet(out).collect()}
    assert got == {"image", "audio"}


def test_read_webdataset_samples_groups_by_key_stem(spark, tmp_path):
    """WebDataset grouping (VERDICT r8 #5): members sharing a key stem
    fold into ONE row per sample with typed text/json columns; keys cut
    at the FIRST dot; torn samples raise or skip per the archive
    contract; ids are deterministic across re-reads."""
    import io
    import json as _json
    import tarfile
    import zipfile

    import numpy as np

    from etl_rust_spark.operators import mediacodec as mc
    from etl_rust_spark.operators import multimodal
    from etl_rust_spark.operators.jpegcodec import encode_jpeg

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    wav = mc.encode_wav(0.2 * np.sin(np.arange(400) / 5.0), 8000)
    with tarfile.open(tmp_path / "shard0.tar", "w") as tf:
        for name, payload in [
            ("0001.jpg", encode_jpeg(img, 90)),
            ("0001.json", _json.dumps({"w": 8}).encode()),
            ("0001.txt", "a cat photo".encode()),
            ("0002.seg.png", mc.encode_png(img)),  # key 0002, still a png
            ("0002.txt", "dog".encode()),
            ("0003.wav", wav),                     # audio-only sample
            ("README", b"ignored (no dot)"),
        ]:
            ti = tarfile.TarInfo(name)
            ti.size = len(payload)
            tf.addfile(ti, io.BytesIO(payload))

    df = multimodal.read_webdataset_samples(spark, str(tmp_path) + "/*")
    rows = {r.key: r for r in df.collect()}
    assert set(rows) == {"0001", "0002", "0003"}
    assert rows["0001"].modality == "image"
    assert rows["0001"].text == "a cat photo"
    assert _json.loads(rows["0001"].json) == {"w": 8}
    assert rows["0001"].meta.mime == "image/jpeg"
    assert rows["0002"].modality == "image" and rows["0002"].json is None
    assert rows["0003"].modality == "audio" and rows["0003"].text is None
    # payloads are the real member bytes (the jpg round-trips its magic)
    assert bytes(rows["0001"].payload)[:2] == b"\xff\xd8"
    # deterministic sample ids across re-reads
    again = {r.key: r.sample_id for r in
             multimodal.read_webdataset_samples(spark, str(tmp_path) + "/*").collect()}
    assert {k: r.sample_id for k, r in rows.items()} == again
    # torn sample: text without any media member
    with zipfile.ZipFile(tmp_path / "shard1.zip", "w") as zf:
        zf.writestr("0009.txt", b"orphan caption")
    with pytest.raises(Exception, match="torn|Torn"):
        multimodal.read_webdataset_samples(spark, str(tmp_path) + "/*").collect()
    assert multimodal.read_webdataset_samples(
        spark, str(tmp_path) + "/*", on_error="skip"
    ).count() == 3
    # two media members under one key is torn too
    with zipfile.ZipFile(tmp_path / "shard1.zip", "w") as zf:
        zf.writestr("0009.png", mc.encode_png(img))
        zf.writestr("0009.jpg", encode_jpeg(img, 90))
    with pytest.raises(Exception, match="2 media members"):
        multimodal.read_webdataset_samples(spark, str(tmp_path) + "/*").collect()
    (tmp_path / "shard1.zip").unlink()


def test_read_webdataset_multi_field_txt_json_members(spark, tmp_path):
    """ADVICE r9: WebDataset-convention multi-field names fold by their
    LAST extension segment — '0001.caption.txt' is the sample's text,
    '0001.meta.json' its json — instead of shipping silently NULL; two
    members of the same type in one sample is an ambiguous fold and
    follows the torn contract."""
    import io
    import json as _json
    import tarfile

    import numpy as np

    from etl_rust_spark.operators import multimodal
    from etl_rust_spark.operators.jpegcodec import encode_jpeg

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    with tarfile.open(tmp_path / "shard0.tar", "w") as tf:
        for name, payload in [
            ("0001.jpg", encode_jpeg(img, 90)),
            ("0001.caption.txt", "a multi-field caption".encode()),
            ("0001.meta.json", _json.dumps({"h": 8}).encode()),
        ]:
            ti = tarfile.TarInfo(name)
            ti.size = len(payload)
            tf.addfile(ti, io.BytesIO(payload))
    rows = {r.key: r for r in multimodal.read_webdataset_samples(
        spark, str(tmp_path) + "/*").collect()}
    assert rows["0001"].text == "a multi-field caption"
    assert _json.loads(rows["0001"].json) == {"h": 8}
    # ambiguous: BOTH 0002.txt and 0002.caption.txt → torn, not a
    # silent last-write-wins
    with tarfile.open(tmp_path / "shard1.tar", "w") as tf:
        for name, payload in [
            ("0002.jpg", encode_jpeg(img, 90)),
            ("0002.txt", b"plain"),
            ("0002.caption.txt", b"also text"),
        ]:
            ti = tarfile.TarInfo(name)
            ti.size = len(payload)
            tf.addfile(ti, io.BytesIO(payload))
    with pytest.raises(Exception, match="2 txt members"):
        multimodal.read_webdataset_samples(
            spark, str(tmp_path) + "/*").collect()
    assert multimodal.read_webdataset_samples(
        spark, str(tmp_path) + "/*", on_error="skip").count() == 1


def test_webdataset_samples_feed_feature_extraction(spark, tmp_path):
    """Composition: WebDataset samples rename into the asset shape and
    REALLY decode through the registry (decode_stub=False), keeping the
    caption columns joined to the features — the multimodal-training
    on-ramp end to end."""
    import io
    import tarfile

    import numpy as np
    from pyspark.sql import functions as F

    from etl_rust_spark.operators import mediacodec as mc
    from etl_rust_spark.operators import multimodal

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    with tarfile.open(tmp_path / "s.tar", "w") as tf:
        for name, payload in [
            ("0001.png", mc.encode_png(img)),
            ("0001.txt", b"red square"),
            ("0002.wav", mc.encode_wav(0.1 * np.sin(np.arange(600) / 4.0), 8000)),
            ("0002.txt", b"a tone"),
        ]:
            ti = tarfile.TarInfo(name)
            ti.size = len(payload)
            tf.addfile(ti, io.BytesIO(payload))

    samples = multimodal.read_webdataset_samples(spark, str(tmp_path) + "/*")
    assets = samples.select(
        F.col("sample_id").alias("asset_id"), "modality", "payload", "meta"
    )
    feats = multimodal.extract_features(assets, decode_stub=False)
    joined = feats.join(
        samples.select(F.col("sample_id").alias("asset_id"), "key", "text"),
        "asset_id",
    ).collect()
    by_key = {r.key: r for r in joined}
    assert set(by_key) == {"0001", "0002"}
    assert by_key["0001"].modality == "image" and by_key["0001"].text == "red square"
    assert by_key["0002"].modality == "audio" and by_key["0002"].text == "a tone"
    assert all(len(r.feature) == 8 for r in joined)
    assert "payload" not in feats.columns  # bytes never leave the kernel


def test_blas_kernels_bounded_query_collect(spark, monkeypatch, tmp_path):
    """The driver-side query reads (BLAS brute force, the fused ANN
    entry, the IVF x PQ search) are capped (VERDICT r12 #8): an
    unbounded query frame must raise instead of collecting to the
    driver."""
    import pytest as _pytest

    from etl_rust_spark.operators import similarity

    emb = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(j)) for j in range(4)]).alias("embedding"),
    )
    monkeypatch.setattr(similarity, "_MAX_QUERY_ROWS", 10)
    with _pytest.raises(ValueError, match="query side exceeds"):
        similarity.cosine_topk_blas(emb, emb).collect()
    with _pytest.raises(ValueError, match="query side exceeds"):
        similarity.ann_entry_fused(emb, max_query=49).collect()
    # the queries are read before the index, so no index is needed here
    with _pytest.raises(ValueError, match="query side exceeds"):
        similarity.ivfpq_search(emb, str(tmp_path / "no_index")).collect()
    # under the cap the kernels still run
    small = emb.filter(F.col("vec_id") < 3)
    assert similarity.cosine_topk_blas(small, emb).count() > 0


def test_shingle_sigs_kernel_parity(spark, sf_dir):
    """The Arrow kernel's MinHash signatures (_shingle_sigs → _sig_cols)
    must be value-identical to the documented expression form
    (_sig_exprs: interpreted transform + array_min HOFs) on the real
    corpus AND the null/short/empty edge rows — including array_min's
    skip-NULL / all-NULL→NULL semantics (VERDICT r12 #4)."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = spark.createDataFrame(
        [
            (100001, None),            # null text → shingles [NULL] → sigs NULL
            (100002, ""),              # empty string → one '' shingle
            (100003, "one"),           # < width tokens → whole-text shingle
            (100004, "a b"),           # still < width
            (100005, "a a a a a a"),   # repeated token, 1 distinct shingle
        ],
        "doc_id long, text string",
    )
    df = dedup.with_shingles(base.unionByName(edges), "text", 3)
    kern = (
        df.withColumn("__ss", dedup._shingle_sigs())
        .select("doc_id", *dedup._sig_cols())
        .orderBy("doc_id")
        .collect()
    )
    expr = (
        df.withColumn("__hs", dedup._hashed_shingles())
        .select("doc_id", *dedup._sig_exprs())
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in kern] == [tuple(r) for r in expr]
