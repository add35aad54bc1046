"""Null-input semantics of the Arrow-batched kernels (ADVICE r5).

The vectorized pandas kernels in lm.py / dedup.py / similarity.py are
documented as bit-identical to their SQL expression forms — which
propagate NULL text / NULL embedding rows gracefully.  These tests pin
the same behavior on the kernels: a nullable column must degrade the
affected rows, never crash the job.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _docs_with_null(spark):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, None),
        (4, "completely different words here entirely"),
    ]
    return spark.createDataFrame(rows, schema)


def test_lm_kernel_skips_null_text(spark):
    from etl_rust_spark.operators import lm

    docs = _docs_with_null(spark)
    bg, ctx, vocab = lm.train_bigram_lm(docs)
    out = {
        r["doc_id"]: r
        for r in lm.score_perplexity(docs, bg, ctx, vocab).collect()
    }
    # Null doc contributes no bigrams: n_bigrams = 0, ppl = 1.0 (the
    # documented "< 2 tokens" degenerate case).
    assert out[3]["n_bigrams"] == 0
    assert out[3]["ppl"] == 1.0
    assert out[1]["n_bigrams"] == 8


def test_minhash_kernel_propagates_null_text(spark):
    from etl_rust_spark.operators import dedup

    docs = _docs_with_null(spark)
    sigs = {r["doc_id"]: r for r in dedup.minhash_signatures(docs, "text", "doc_id").collect()}
    # Null text shingles to array(NULL) -> hashed [NULL] -> null sigs;
    # non-null rows are unaffected.
    assert sigs[3]["sig0"] is None
    assert sigs[1]["sig0"] is not None
    # The full LSH pipeline must still find the planted near-dup pair.
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    assert {(r["qid"], r["cid"]) for r in pairs} == {(1, 2)}


def test_sig_norm_kernel_emits_null_for_null_embedding(spark):
    from etl_rust_spark.operators import similarity

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    base = [float(i % 7) - 3.0 for i in range(64)]
    rows = [
        (1, base),
        (2, [x + 0.01 for x in base]),
        (3, None),
        (4, [-x for x in base]),
    ]
    corpus = spark.createDataFrame(rows, schema)
    out = {
        r["cid"]: r
        for r in similarity._sig_norm_pandas(
            corpus, "vec_id", "embedding", 8, "cid", "cv"
        ).collect()
    }
    assert out[3]["bucket"] is None and out[3]["nrm"] is None
    assert out[1]["bucket"] == out[2]["bucket"]
    # End-to-end: the null row drops out of the bucket join, neighbors
    # are still found.
    res = similarity.ann_lsh_topk(
        corpus.filter("vec_id = 1"), corpus, k=1, prefix_bits=4
    ).collect()
    assert len(res) == 1 and res[0]["cid"] == 2


def test_signature_operators_skip_null_payloads(spark):
    """A crawled corpus carries fetch failures as null payloads: the
    three signature operators must drop those rows (null-in ->
    no-row-out) instead of crashing the decode batch, on BOTH decode
    paths."""
    import numpy as np

    from etl_rust_spark.operators import mediacodec as mc
    from etl_rust_spark.operators import multimodal

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    frames = [img]
    tone = np.zeros(64)
    rows = [
        (1, "image", bytearray(mc.encode_png(img)), ("image/png", 8, 8, None, "u1")),
        (2, "image", None, ("image/png", 8, 8, None, "u2")),
        (3, "audio", bytearray(mc.encode_wav(tone, 8000)), ("audio/wav", None, None, 8, "u3")),
        (4, "audio", None, ("audio/wav", None, None, 8, "u4")),
        (5, "video", bytearray(mc.encode_avi(frames)), ("video/avi", 8, 8, 40, "u5")),
        (6, "video", None, ("video/avi", 8, 8, 40, "u6")),
    ]
    df = multimodal.make_asset_df(spark, rows)
    for stub in (True, False):
        assert [r["asset_id"] for r in multimodal.image_signatures(df, decode_stub=stub).collect()] == [1]
        assert [r["asset_id"] for r in multimodal.audio_signatures(df, decode_stub=stub).collect()] == [3]
    assert [r["asset_id"] for r in multimodal.frame_signatures(df).collect()] == [5]


def test_ivf_index_kernels_skip_null_embeddings(spark, tmp_path):
    """ivf_assign / ivf_search probe kernels must skip NULL embeddings
    instead of crashing (the Arrow-kernel null-guard contract)."""
    from pyspark.sql import types as T

    from etl_rust_spark.operators import similarity

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(40)]
    rows += [(100, None), (101, None)]
    emb = spark.createDataFrame(rows, schema)
    idx = str(tmp_path / "ivf_null")
    similarity.build_ivf_index(emb, idx, n_lists=4, seed=3)
    # null corpus rows never entered a list
    assert spark.read.parquet(f"{idx}/corpus").count() == 40
    out = similarity.ivf_search(
        emb.filter("vec_id IN (0, 1, 100)"), idx, k=2, n_probe=2
    )
    got = {r.qid for r in out.collect()}
    assert 100 not in got and {0, 1} <= got


def test_semantic_dedupe_keeps_null_embedding_row(spark):
    """semantic_dedupe must not crash on a NULL embedding: its cluster
    assignment skips the row, which is never compared and so is kept."""
    from pyspark.sql import types as T

    from etl_rust_spark.operators import similarity

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(40)]
    rows += [(100, None)]
    emb = spark.createDataFrame(rows, schema)
    kept = {r.vec_id for r in similarity.semantic_dedupe(emb, n_clusters=4).collect()}
    assert 100 in kept


def test_pq_kernels_skip_null_embeddings(spark, tmp_path):
    """pq_encode and ivfpq build + search must skip NULL embeddings
    (the Arrow-kernel null-guard contract), for both raw and residual
    layouts."""
    from pyspark.sql import types as T

    from etl_rust_spark.operators import similarity

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(40)]
    rows += [(100, None), (101, None)]
    emb = spark.createDataFrame(rows, schema)

    for residual in (False, True):
        idx = str(tmp_path / f"pq_null_{residual}")
        similarity.build_ivfpq_index(
            emb, idx, n_lists=4, m=4, k_codes=4, sample=40, residual=residual
        )
        assert spark.read.parquet(f"{idx}/codes").count() == 40
        out = similarity.ivfpq_search(
            emb.filter("vec_id IN (0, 1, 100)"), idx, k=2, nprobe=4
        )
        got = {r.qid for r in out.collect()}
        assert 100 not in got and {0, 1} <= got

    books = similarity.train_pq(emb, m=4, k=4, sample=40)
    assert similarity.pq_encode(emb, books).count() == 40
