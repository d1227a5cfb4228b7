"""Unit tests for the LLM-pipeline operators: dedup, text analysis,
similarity search, multimodal plumbing (operators/{dedup,textual,
similarity,multimodal}.py)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tytodb_spark.operators import dedup as D
from tytodb_spark.operators import multimodal as M
from tytodb_spark.operators import similarity as S
from tytodb_spark.operators import textual as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=1, text="The  quick brown FOX jumps over the lazy dog "),  # exact dup of 0 (normalized)
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),  # near dup of 0
        Row(doc_id=3, text="completely different content about spark engines"),
        Row(doc_id=4, text=""),
        Row(doc_id=5, text="one"),
    ]
    return spark.createDataFrame(rows)


# ---------------------------------------------------------------------------
# textual
# ---------------------------------------------------------------------------


def test_tokens_and_ngrams(spark, docs):
    out = docs.select(
        "doc_id",
        X.token_count("text").alias("n"),
        X.word_ngrams("text", 3).alias("g3"),
        X.char_ngrams("text", 4).alias("c4"),
    ).orderBy("doc_id").collect()
    assert out[0]["n"] == 9
    assert out[0]["g3"][0] == "the quick brown"
    assert len(out[0]["g3"]) == 7  # 9 tokens -> 7 trigrams
    assert out[4]["n"] == 0 and out[4]["g3"] == []  # empty doc
    assert out[5]["g3"] == []  # fewer tokens than n
    assert out[5]["c4"] == []  # "one" shorter than 4 chars


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="alpha beta gamma"), Row(doc_id=1, text="gamma  Alpha beta")]
    )
    fps = [r["fp"] for r in df.select(X.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            Row(t="the cat is in the house and it is warm"),
            Row(t="el gato que vive en la casa de los vecinos es gris"),
            Row(t="der Hund ist nicht da und das ist gut"),
            Row(t="zzz qqq xxx"),
        ]
    )
    out = [r[0] for r in df.select(X.lang_id("t")).collect()]
    assert out == ["en", "es", "de", "und"]


def test_quality_score_bounds(spark, docs):
    vals = [r[0] for r in docs.select(X.quality_score("text")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)
    # a real sentence should outscore an empty doc
    named = dict(zip([r["doc_id"] for r in docs.select("doc_id").collect()], vals))
    assert named[0] > named[4]


def test_jaccard_pairs_exact(spark, docs):
    out = X.jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    # docs 0/1 identical after lowering -> jaccard 1.0 on unigram sets
    assert pairs[(0, 1)] == 1.0
    # docs 0/2: 7 common distinct tokens, union of 9
    assert math.isclose(pairs[(0, 2)], 7 / 9)
    assert (0, 3) not in pairs


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup(spark, docs):
    survivors = D.exact_dedup(docs, "doc_id", "text")
    ids = sorted(r["doc_id"] for r in survivors.collect())
    assert 0 in ids and 1 not in ids  # min-id survivor policy
    groups = {
        r["keep_id"]: r["n_copies"]
        for r in D.exact_dedup_groups(docs, "doc_id", "text").collect()
    }
    assert groups[0] == 2


def test_minhash_lsh_finds_near_dups(spark, docs):
    out = D.minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_n=1, num_hashes=64, num_bands=32, threshold=0.5
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 2) in pairs  # j=0.8 near-dup: recall 1-(1-0.8^2)^32 ≈ 1-3e-15
    assert all(r["jaccard"] >= 0.5 for r in out)


def test_simhash_portable_identical_docs(spark, docs):
    sh = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash64_portable(docs, "doc_id", "text").collect()
    }
    assert sh[0] == sh[1]  # same token set -> same signature
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_pairs(docs, "doc_id", "text", max_hamming=10).collect()
    }
    assert pairs[(0, 1)] == 0


def test_ann_recall_verdicts(spark):
    from tytodb_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)],
        "query_id long, neighbor_id long",
    )
    ann = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 99)], "query_id long, neighbor_id long"
    )
    out = {
        r["query_id"]: r["recall_ok"]
        for r in ann_recall(exact, ann, k=3, threshold=0.5).collect()
    }
    # query 2 gets a row (False) even though ANN returned nothing right
    assert out == {1: True, 2: False}


def test_embedding_dup_pairs(spark):
    rows = [
        Row(vec_id=0, v=[1.0, 0.0, 0.0], b=0),
        Row(vec_id=1, v=[0.999, 0.01, 0.0], b=0),
        Row(vec_id=2, v=[0.0, 1.0, 0.0], b=0),
        Row(vec_id=3, v=[1.0, 0.0, 0.0], b=1),  # same dir, other block
    ]
    df = spark.createDataFrame(rows).withColumn("v", F.col("v").cast("array<float>"))
    out = D.embedding_dup_pairs(df, "vec_id", "v", threshold=0.95, block_col="b")
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(0, 1)}  # 0-3 blocked apart; 0-2 orthogonal


def test_embedding_dup_strategies_agree(spark):
    """broadcast / keyed-shuffle / triangle paths return identical
    pairs — the strategy gate changes the plan, never the answer."""
    import random

    rng = random.Random(7)
    rows = [
        Row(
            vec_id=i,
            v=[rng.gauss(0, 1) for _ in range(8)],
            b=i % 3,
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows).withColumn("v", F.col("v").cast("array<float>"))

    def pairs(**kw):
        return sorted(
            map(
                tuple,
                D.embedding_dup_pairs(df, "vec_id", "v", threshold=0.3, **kw)
                .collect(),
            )
        )

    keyed_bc = pairs(block_col="b")
    keyed_shuffle = pairs(block_col="b", build_rows=10**9)
    assert keyed_bc == keyed_shuffle and keyed_bc
    flat_bc = pairs()
    flat_triangle = pairs(build_rows=10**9)
    assert flat_bc == flat_triangle and flat_bc


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    import random

    rng = random.Random(42)
    rows = [
        Row(vec_id=i, embedding=[rng.gauss(0, 1) for _ in range(16)]) for i in range(60)
    ]
    return spark.createDataFrame(rows).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def _numpy_knn(rows, qids, k):
    import numpy as np

    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    out = {}
    for q in qids:
        order = sorted(
            (i for i in range(len(rows)) if i != q),
            key=lambda i: (-round(sims[q, i], 6), i),
        )
        out[q] = order[:k]
    return out


def test_brute_force_knn_matches_numpy(spark, vecs):
    rows = sorted(vecs.collect(), key=lambda r: r["vec_id"])
    expected = _numpy_knn(rows, [0, 1, 2], k=5)
    got = S.brute_force_knn(
        vecs.filter(F.col("vec_id") < 3), vecs, "vec_id", "embedding", k=5
    ).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert by_q == expected


def test_topk_per_key_equals_global(spark, vecs):
    scored = vecs.select(
        (F.col("vec_id") % 3).alias("key"),
        F.col("vec_id").alias("item"),
        (F.col("vec_id") * 7 % 13).alias("score"),
    ).repartition(8)
    got = S.topk_per_key(scored, "key", [F.col("score").desc(), F.col("item")], 4)
    rows = sorted(
        ((r["key"], r["rank"], r["item"]) for r in got.collect())
    )
    base = sorted(
        ((r["key"], r["score"], r["item"]) for r in scored.collect())
    )
    expect = []
    for k in {b[0] for b in base}:
        items = sorted(((-s, i) for kk, s, i in base if kk == k))[:4]
        expect += [(k, rank + 1, i) for rank, (_, i) in enumerate(items)]
    assert rows == sorted(expect)


def test_srp_ann_recall(spark, vecs):
    exact = S.brute_force_knn(
        vecs.filter(F.col("vec_id") < 5), vecs, "vec_id", "embedding", k=3
    ).collect()
    approx = S.srp_ann(
        vecs.filter(F.col("vec_id") < 5), vecs, "vec_id", "embedding",
        dim=16, k=3, bits=4, tables=8,
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5  # loose: 4-bit × 8-table SRP on gaussians
    # every ANN hit must carry the exactly-rescored cosine
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in approx)


def test_ivf_ann_recall_and_determinism(spark, vecs):
    exact = S.brute_force_knn(
        vecs.filter(F.col("vec_id") < 5), vecs, "vec_id", "embedding", k=3
    ).collect()
    kwargs = dict(k=3, n_centroids=8, n_probe=4, seed=7)
    approx = S.ivf_ann(
        vecs.filter(F.col("vec_id") < 5), vecs, "vec_id", "embedding", **kwargs
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # probing half the cells of a tiny corpus should recover most true
    # neighbors
    assert len(exact_set & approx_set) / len(exact_set) >= 0.6
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in approx)
    again = S.ivf_ann(
        vecs.filter(F.col("vec_id") < 5), vecs, "vec_id", "embedding", **kwargs
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, again), key=lambda t: t[:2]) == sorted(
        map(tuple, approx), key=lambda t: t[:2]
    )


def test_ivf_probe_bounds_candidates(spark, vecs):
    # n_probe=1 must retrieve a subset of what n_probe=all retrieves
    few = S.ivf_ann(
        vecs.filter(F.col("vec_id") < 3), vecs, "vec_id", "embedding",
        k=50, n_centroids=8, n_probe=1, seed=7,
    ).collect()
    all_cells = S.ivf_ann(
        vecs.filter(F.col("vec_id") < 3), vecs, "vec_id", "embedding",
        k=50, n_centroids=8, n_probe=8, seed=7,
    ).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in few} <= {
        (r["query_id"], r["neighbor_id"]) for r in all_cells
    }
    assert len(few) < len(all_cells)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_media_table_schema(spark, docs):
    media = M.to_media_table(docs, "doc_id", "text", mime="text/plain")
    assert [f.name for f in media.schema] == ["doc_id", "payload", "meta"]
    row = media.filter(F.col("doc_id") == 0).collect()[0]
    assert bytes(row["payload"]).decode() == "the quick brown fox jumps over the lazy dog"
    assert row["meta"]["mime"] == "text/plain"
    assert row["meta"]["n_bytes"] == len(bytes(row["payload"]))


def test_extract_features_sha256(spark, docs):
    media = M.to_media_table(docs, "doc_id", "text")
    feats = {r["doc_id"]: r for r in M.extract_features(media).collect()}
    text0 = "the quick brown fox jumps over the lazy dog"
    assert feats[0]["payload_sha256"] == hashlib.sha256(text0.encode()).hexdigest()
    assert feats[0]["n_bytes"] == len(text0)
    assert feats[4]["n_bytes"] == 0


def test_sample_frames_deterministic(spark, docs):
    media = M.to_media_table(docs.filter(F.col("doc_id") == 0), "doc_id", "text")
    frames = M.sample_frames(media, every_n_bytes=8, max_frames=3).collect()
    frames = sorted(frames, key=lambda f: f["frame_idx"])
    assert [f["frame_idx"] for f in frames] == [0, 1, 2]
    raw = "the quick brown fox jumps over the lazy dog".encode()
    # fingerprint domain is uppercase-hex of the frame bytes (injective;
    # DuckDB-recomputable — see sample_frames docstring)
    assert (
        frames[0]["frame_sha256"]
        == hashlib.sha256(raw[0:8].hex().upper().encode()).hexdigest()
    )


def test_decode_image_is_gated():
    with pytest.raises((NotImplementedError, Exception)):
        M.decode_image(b"not an image")


def test_approx_distinct_within_rsd(spark, oracle_sf_dir):
    from tytodb_spark import queries as Q

    rows = Q.REGISTRY["q38_approx_distinct"].fn(spark, oracle_sf_dir).collect()
    assert rows
    for r in rows:
        assert r["within_bounds"], f"{r['o_orderpriority']}: HLL outside 3·rsd"


# ---------------------------------------------------------------------------
# near-dup clustering
# ---------------------------------------------------------------------------


def test_connected_components_merges_chains(spark):
    from tytodb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {
        (r["vertex"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_hll_sketch_merge_tolerance(spark, oracle_sf_dir):
    """The mergeable-sketch rollup (q87) must estimate within HLL error
    of the exact distinct counts, and the ALL row must come from the
    UNION of per-source sketches (not a rescan) yet still match the
    exact global distinct within tolerance."""
    import duckdb

    from tytodb_spark import queries as Q

    rows = Q.REGISTRY["q87_hll_sketch_merge"].fn(spark, oracle_sf_dir).collect()
    got = {r["event_type"]: r for r in rows}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/events.parquet')"
    )
    exact = dict(
        con.sql(
            "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1"
        ).fetchall()
    )
    exact["ALL"] = con.sql(
        "SELECT count(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    assert set(got) == set(exact)
    for k, true_n in exact.items():
        assert got[k]["exact_users"] == true_n, (k, got[k], true_n)
        assert got[k]["within_bounds"], (k, got[k], true_n)


def test_resize_images_shape_and_determinism(spark, docs):
    from tytodb_spark.operators.multimodal import resize_images, to_media_table

    media = to_media_table(docs, "doc_id", "text")
    out = resize_images(media, 4, 4).collect()
    assert len(out) == docs.count()
    for r in out:
        assert len(r["payload"]) == 4 * 4 * 3
        assert r["meta"]["width"] == 4 and r["meta"]["height"] == 4
        assert r["meta"]["mime"] == "image/raw-rgb"
    # deterministic: same input -> same bytes
    again = {r["doc_id"]: bytes(r["payload"]) for r in resize_images(media, 4, 4).collect()}
    assert all(bytes(r["payload"]) == again[r["doc_id"]] for r in out)


def test_winnow_key_properties(spark):
    """Identical texts share a winnow key; the key is stable across
    evaluations; short texts (< window tokens) fall back to a
    whole-text hash rather than null."""
    from tytodb_spark.operators.textual import winnow_key

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "an entirely different document about spark and parquet files"),
        (4, "tiny"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["wk"] for r in df.select("doc_id", winnow_key("text", 8).alias("wk")).collect()}
    assert got[1] == got[2]          # exact dups collide
    assert got[1] != got[3]          # different content separates
    assert got[4] is not None        # short-text fallback
    again = {r["doc_id"]: r["wk"] for r in df.select("doc_id", winnow_key("text", 8).alias("wk")).collect()}
    assert got == again              # deterministic


def test_sequence_packing_edges(spark):
    """Packing boundaries: an empty doc packs (0 tokens, stays in the
    current sequence); a single doc bigger than the budget still lands
    in exactly one sequence (greedy packing never splits a document)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from tytodb_spark.operators.textual import token_count

    rows = [
        (0, " ".join(["tok"] * 600)),  # bigger than the 512 budget
        (1, ""),                        # empty
        (2, " ".join(["tok"] * 100)),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    w = W.partitionBy(F.lit(0)).orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    packed = df.select(
        "doc_id",
        token_count("text").cast("bigint").alias("n_tok"),
        F.floor(
            F.coalesce(F.sum(token_count("text").cast("bigint")).over(w), F.lit(0))
            / 512
        ).alias("seq_id"),
    ).collect()
    by_id = {r["doc_id"]: r for r in packed}
    assert by_id[0]["seq_id"] == 0          # giant doc opens seq 0, never split
    assert by_id[1]["seq_id"] == 1          # next seq after the 600-token doc
    assert by_id[1]["n_tok"] == 0           # empty doc contributes nothing
    assert by_id[2]["seq_id"] == 1


def test_decontaminate_drops_overlapping_train_docs(spark):
    bench = spark.createDataFrame(
        [Row(doc_id=100, text="alpha beta gamma delta epsilon zeta")]
    )
    train = spark.createDataFrame(
        [
            # shares the 5-gram "beta gamma delta epsilon zeta" → contaminated
            Row(doc_id=1, text="intro beta gamma delta epsilon zeta outro"),
            # shares only 4 consecutive words → clean at n=5
            Row(doc_id=2, text="beta gamma delta epsilon other tail words here"),
            Row(doc_id=3, text="totally unrelated training content row"),
            Row(doc_id=4, text="short"),  # < n tokens → no grams → clean
        ]
    )
    kept = X.decontaminate(train, bench, "doc_id", "text", n=5)
    assert sorted(r.doc_id for r in kept.collect()) == [2, 3, 4]
    # all original columns survive
    assert set(kept.columns) == {"doc_id", "text"}


def test_duplicate_gram_fraction(spark):
    df = spark.createDataFrame(
        [
            # bigrams: [a b, b a, a b] → 2 distinct / 3 → dup_frac 1/3
            Row(doc_id=1, text="a b a b"),
            # all bigrams distinct → 0.0
            Row(doc_id=2, text="w x y z"),
            Row(doc_id=3, text="solo"),  # < n tokens → absent from output
        ]
    )
    out = {r.doc_id: r.dup_frac for r in X.duplicate_gram_fraction(df, "doc_id", "text", n=2).collect()}
    assert out[1] == pytest.approx(1 / 3)
    assert out[2] == 0.0
    assert 3 not in out


def test_bm25_ranks_rare_term_higher(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="rare common common filler filler"),
            Row(doc_id=2, text="common filler words only here now"),
            Row(doc_id=3, text="common common common filler filler"),
            Row(doc_id=4, text="nothing matching at all"),
        ]
    )
    out = {r.doc_id: r.bm25 for r in X.bm25_scores(df, "doc_id", "text", ["rare", "common"]).collect()}
    assert 4 not in out  # no query term → absent
    assert out[1] > out[2]  # rare-term doc dominates
    assert out[1] > out[3]  # even vs repeated common terms (tf saturation)
    assert all(v > 0 for v in out.values())


def test_pq_ann_recall_and_determinism(spark, vecs):
    exact = S.brute_force_knn(
        vecs.filter(F.col("vec_id") < 5), vecs, "vec_id", "embedding", k=3
    ).collect()
    kwargs = dict(k=3, m=4, k_codes=16, seed=7)
    approx = S.pq_ann(
        vecs.filter(F.col("vec_id") < 5), vecs, "vec_id", "embedding", **kwargs
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # 4×16 codebooks on 16-dim gaussians: quantization error is real but
    # top-3 should mostly survive
    assert len(exact_set & approx_set) / len(exact_set) >= 0.5
    assert all(r["adc_dist"] >= 0 for r in approx)
    assert {r["query_id"] for r in approx} == {0, 1, 2, 3, 4}
    assert all(1 <= r["rank"] <= 3 for r in approx)
    again = S.pq_ann(
        vecs.filter(F.col("vec_id") < 5), vecs, "vec_id", "embedding", **kwargs
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, approx))


def test_pq_codebook_shapes(spark, vecs):
    books = S.train_pq_codebooks(vecs, "embedding", m=4, k_codes=8, seed=7)
    assert books.shape == (4, 8, 4)
    import numpy as np

    assert np.isfinite(books).all()


def test_temperature_mix_flattens_domains(spark):
    from tytodb_spark.operators.sampling import temperature_mix

    rows = [Row(doc_id=i, source="big" if i < 900 else "rare") for i in range(1000)]
    df = spark.createDataFrame(rows)
    kept = temperature_mix(df, "doc_id", "source", alpha=0.5, target_frac=0.5)
    by_src = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # analytic keep-probs: p_rare = min(1, .5*1000*sqrt(100)e6/(sqrt(900)+sqrt(100))e6/100) = 1.0
    assert by_src["rare"] == 100  # rare domain fully kept (boosted)
    # big domain down-sampled to ~p=0.4167; md5 uniform → binomial, wide bounds
    assert 290 <= by_src["big"] <= 460
    # deterministic: identical draw on re-run
    again = temperature_mix(df, "doc_id", "source", alpha=0.5, target_frac=0.5)
    assert sorted(r.doc_id for r in again.collect()) == sorted(r.doc_id for r in kept.collect())
    # all original columns survive
    assert set(kept.columns) == {"doc_id", "source"}


def test_temperature_mix_alpha_one_is_uniform_rate(spark):
    from tytodb_spark.operators.sampling import md5_uniform16, temperature_mix

    rows = [Row(doc_id=i, source="a" if i % 3 else "b") for i in range(300)]
    df = spark.createDataFrame(rows)
    kept = temperature_mix(df, "doc_id", "source", alpha=1.0, target_frac=0.25)
    # alpha=1 → every domain's keep-prob is exactly target_frac: the kept
    # set is precisely the rows whose md5-uniform < 0.25*65536
    expect = sorted(
        r.doc_id
        for r in df.filter(md5_uniform16("doc_id") < 0.25 * 65536).collect()
    )
    assert sorted(r.doc_id for r in kept.collect()) == expect


def test_passage_dedup_stats(spark):
    from tytodb_spark.operators.textual import passage_dedup_stats

    base = " ".join(f"w{i}" for i in range(40))  # exactly 2 chunks of 20
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, "totally different words here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in passage_dedup_stats(df, "doc_id", "text", 20).collect()}
    assert out[0]["n_chunks"] == 2 and out[0]["n_dup_chunks"] == 0  # keeper
    assert out[1]["n_chunks"] == 2 and out[1]["n_dup_chunks"] == 2  # full copy
    assert out[2]["n_chunks"] == 1 and out[2]["n_dup_chunks"] == 0


def test_unigram_nll_uniform_corpus(spark):
    import math

    from tytodb_spark.operators.textual import unigram_nll

    # two tokens, equal frequency -> every token has p=1/2, nll=ln 2
    df = spark.createDataFrame(
        [(0, "aa bb"), (1, "bb aa")], "doc_id long, text string"
    )
    rows = unigram_nll(df, "doc_id", "text").collect()
    for r in rows:
        assert r["n_toks"] == 2
        assert abs(r["nll"] - math.log(2)) < 1e-6


def test_weighted_sample_deterministic_any_partitioning(spark):
    from tytodb_spark.operators.sampling import weighted_sample

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("w")
    )
    a = sorted(r["doc_id"] for r in weighted_sample(df.repartition(1), "doc_id", "w", 50).collect())
    b = sorted(r["doc_id"] for r in weighted_sample(df.repartition(16), "doc_id", "w", 50).collect())
    assert a == b and len(a) == 50
    # heavier rows must be overrepresented: mean weight of the sample
    # exceeds the population mean (w in 1..7, E[w]=4)
    got_w = [r["w"] for r in weighted_sample(df, "doc_id", "w", 50).collect()]
    assert sum(got_w) / len(got_w) > 4.0


def test_incremental_minhash_skips_old_pairs(spark):
    from tytodb_spark.operators.dedup import minhash_lsh_pairs_incremental

    t = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=0, text=t, is_new=False),
        Row(doc_id=1, text=t, is_new=False),          # old×old dup: excluded
        Row(doc_id=2, text=t, is_new=True),           # new, dups 0 and 1
        Row(doc_id=3, text="nothing like the others at all", is_new=True),
    ]
    out = minhash_lsh_pairs_incremental(
        spark.createDataFrame(rows), "doc_id", "text", "is_new",
        shingle_n=1, num_hashes=64, num_bands=32, threshold=0.5,
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) not in pairs          # old×old never verified
    assert (0, 2) in pairs and (1, 2) in pairs


def test_cross_source_dup_matrix(spark):
    from tytodb_spark.operators.dedup import cross_source_dup_matrix

    rows = [
        Row(doc_id=0, text="shared alpha", source="a"),
        Row(doc_id=1, text="Shared  ALPHA ", source="b"),  # dup of 0 normalized
        Row(doc_id=2, text="only in a", source="a"),
        Row(doc_id=3, text="shared alpha", source="c"),
    ]
    out = {
        (r["src_a"], r["src_b"]): r["n_shared"]
        for r in cross_source_dup_matrix(
            spark.createDataFrame(rows), "doc_id", "text", "source"
        ).collect()
    }
    assert out == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}


def test_length_bucketed_batches(spark):
    from tytodb_spark.operators.sampling import length_bucketed_batches

    # 20 seqs of len 10 (bucket 0) + 3 of len 40 (bucket 1), batch_size 16
    df = spark.createDataFrame(
        [(i, 10) for i in range(20)] + [(100 + i, 40 + i) for i in range(3)],
        "doc_id long, n long",
    )
    out = {
        (r["bucket"], r["batch_id"]): r
        for r in length_bucketed_batches(df, "doc_id", "n", 32, 16).collect()
    }
    assert out[(0, 0)]["n_seqs"] == 16 and out[(0, 1)]["n_seqs"] == 4
    assert out[(0, 0)]["padding_frac"] == 0.0  # equal lengths pad nothing
    b1 = out[(1, 0)]
    assert b1["n_seqs"] == 3 and b1["max_len"] == 42
    # padding_frac is rounded to 6 decimals by the operator
    assert abs(b1["padding_frac"] - (1 - (40 + 41 + 42) / (3 * 42))) < 1e-6


def test_connected_components_star_equals_label_prop(spark):
    """large-star/small-star and min-label propagation agree on chains
    (worst case for label prop), cliques, and random graphs."""
    import random

    from tytodb_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(13)
    chain = [(i, i + 1) for i in range(60)]                  # diameter 60
    clique = [(100 + i, 100 + j) for i in range(6) for j in range(i + 1, 6)]
    rand = [
        (200 + rng.randrange(40), 200 + rng.randrange(40)) for _ in range(50)
    ]
    edges = [(a, b) for a, b in chain + clique + rand if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    lab = sorted(map(tuple, connected_components(df, max_iters=100).collect()))
    star = sorted(map(tuple, connected_components_star(df).collect()))
    assert lab == star
    # chain collapses to one component rooted at 0
    assert all(c == 0 for v, c in star if v <= 60)


def test_star_raises_when_unconverged(spark):
    """An unconverged star forest must fail loudly, not return
    approximate labels as exact (ADVICE r02)."""
    import pytest

    from tytodb_spark.operators.dedup import connected_components_star

    chain = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="fixed point"):
        connected_components_star(df, max_iters=1)


def test_domain_cap_enforced_and_partition_invariant(spark):
    from tytodb_spark.operators.sampling import domain_cap

    rows = [(f"src{i % 3}", i) for i in range(100)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    capped = domain_cap(df, "source", "doc_id", 7)
    got = sorted(map(tuple, capped.select("source", "doc_id").collect()))
    per = {}
    for s, _ in got:
        per[s] = per.get(s, 0) + 1
    assert all(v == 7 for v in per.values())
    # identical survivors at a different parallelism (md5 priority, not rand)
    again = sorted(
        map(
            tuple,
            domain_cap(df.repartition(13), "source", "doc_id", 7)
            .select("source", "doc_id")
            .collect(),
        )
    )
    assert got == again


def test_vocab_coverage_oov_boundary(spark):
    from tytodb_spark.operators.textual import vocab_coverage

    rows = [
        (1, "a a a b"),  # corpus counts: a=4, z=3, b=2, q=1 -> vocab {a, z}
        (2, "a b z z"),
        (3, "z q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in vocab_coverage(df, "doc_id", "text", vocab_size=2).collect()
    }
    assert out[1]["n_oov"] == 1 and out[1]["oov_q"] == 250000  # b
    assert out[2]["n_oov"] == 1 and out[2]["oov_q"] == 250000  # b
    assert out[3]["n_oov"] == 1 and out[3]["oov_q"] == 500000  # q


def test_bigram_nll_prefers_seen_transitions(spark):
    from tytodb_spark.operators.textual import bigram_nll

    rows = [
        (1, "a b a b a b a b"),  # one dominant transition chain
        (2, "b b b a a a b a"),  # same unigrams, scrambled transitions
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["nll"] for r in bigram_nll(df, "doc_id", "text").collect()}
    assert out[1] < out[2]  # common transitions -> lower NLL


def test_dim_robust_stats_exact_elements(spark):
    from tytodb_spark.operators.similarity import dim_robust_stats

    # dim0 values: 1..5 -> q1=2, med=3, q3=4 (floor((5-1)*q) lower element)
    rows = [(i, [float(i + 1), float(10 * (i + 1))]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in dim_robust_stats(df, "embedding").collect()}
    assert out[0]["q1"] == 2.0 and out[0]["med"] == 3.0 and out[0]["q3"] == 4.0
    assert out[0]["iqr"] == 2.0
    assert out[1]["med"] == 30.0 and out[1]["iqr"] == 20.0


def test_duplicate_span_stats_islands(spark):
    # a..p unique filler; docs 0 and 1 share a 10-token run ("c1..c10")
    # at DIFFERENT offsets; doc 2 has no 8-token window in common.
    shared = " ".join(f"c{i}" for i in range(10))
    rows = [
        Row(doc_id=0, text="a1 a2 a3 " + shared + " a4 a5"),          # 15 toks
        Row(doc_id=1, text=shared + " b1 b2 b3 b4 b5 b6 b7"),        # 17 toks
        Row(doc_id=2, text=" ".join(f"z{i}" for i in range(12))),     # clean
        Row(doc_id=3, text="w1 w2 w3"),                               # < window
    ]
    out = {
        r["doc_id"]: r
        for r in X.duplicate_span_stats(
            spark.createDataFrame(rows), "doc_id", "text", window=8
        ).collect()
    }
    # shared run = 10 tokens -> 3 stride-1 windows of 8, merging to ONE
    # island covering exactly the 10 shared tokens in each doc
    for d in (0, 1):
        assert out[d]["dup_islands"] == 1
        assert out[d]["dup_tokens"] == 10
    assert out[2]["dup_islands"] == 0 and out[2]["dup_tokens"] == 0
    assert out[3]["dup_islands"] == 0 and out[3]["n_toks"] == 3
    assert abs(out[0]["dup_frac"] - round(10 / 15, 6)) < 1e-9


def test_duplicate_span_stats_two_islands(spark):
    # two separate shared 8-token runs in one doc, far enough apart
    # (gap >= window) to stay distinct islands
    run1 = " ".join(f"p{i}" for i in range(8))
    run2 = " ".join(f"q{i}" for i in range(8))
    gap = " ".join(f"g{i}" for i in range(9))
    rows = [
        Row(doc_id=0, text=run1 + " " + gap + " " + run2),
        Row(doc_id=1, text=run1 + " x1 x2 x3 x4 x5 x6 x7 x8 " + run2),
    ]
    out = {
        r["doc_id"]: r
        for r in X.duplicate_span_stats(
            spark.createDataFrame(rows), "doc_id", "text", window=8
        ).collect()
    }
    assert out[0]["dup_islands"] == 2 and out[0]["dup_tokens"] == 16
    assert out[1]["dup_islands"] == 2 and out[1]["dup_tokens"] == 16


def test_semantic_dedup_keeps_min_id_per_dup_group(spark):
    # seeds = ids 0 (e1) and 1 (e2). 2 and 3 are near-e1 dups of seed 0
    # and of each other; 5 is a near-e2 dup of seed 1; 4 is orthogonal
    # to both seeds (assignment ties at cos 0, breaks to seed 0) and
    # similar to nothing.
    def v(*xs):
        return [float(x) for x in xs]

    rows = [
        Row(vec_id=0, embedding=v(1, 0, 0)),
        Row(vec_id=1, embedding=v(0, 1, 0)),
        Row(vec_id=2, embedding=v(0.99, 0.01, 0)),    # dup of 0
        Row(vec_id=3, embedding=v(0.98, 0.02, 0)),    # dup of 0 and 2
        Row(vec_id=4, embedding=v(0, 0, 1)),          # unique
        Row(vec_id=5, embedding=v(0.01, 0.99, 0)),    # dup of 1
    ]
    df = spark.createDataFrame(rows)
    out = {
        r["vec_id"]: r
        for r in D.semantic_dedup(
            df, "vec_id", "embedding", k_seeds=2, threshold=0.9
        ).collect()
    }
    assert len(out) == 6
    assert {i for i, r in out.items() if r["is_kept"]} == {0, 1, 4}
    assert out[2]["cluster"] == out[3]["cluster"] == out[0]["cluster"]
    assert out[5]["cluster"] == out[1]["cluster"]
    assert out[4]["cluster"] == out[0]["cluster"]  # orthogonal tie -> seed 0


def test_fuzzy_decontaminate_flags_near_dup_of_bench(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = spark.createDataFrame(
        [
            Row(doc_id=10, text=base + " lambda"),  # near-dup of bench 0
            Row(doc_id=11, text="totally unrelated words about spark plans"),
        ]
    )
    bench = spark.createDataFrame([Row(doc_id=0, text=base)])
    out = D.fuzzy_decontaminate(
        train, bench, "doc_id", "text", shingle_n=3, threshold=0.5
    ).collect()
    assert {(r["doc_id"], r["bench_id"]) for r in out} == {(10, 0)}
    assert out[0]["jaccard"] >= 0.5


def test_incremental_rollup_merge_equals_full_recompute(spark):
    from tytodb_spark.operators.incremental import merge_rollup, rollup_state

    rows = [
        Row(k="a", x=1.0), Row(k="a", x=2.5), Row(k="b", x=10.0),
        Row(k="c", x=7.0),  # key only in the delta batch
    ]
    df = spark.createDataFrame(rows)
    base, delta = df.filter(F.col("x") < 5), df.filter(F.col("x") >= 5)
    merged = merge_rollup(
        rollup_state(base, ["k"], ["x"]), rollup_state(delta, ["k"], ["x"]), ["k"]
    )
    full = rollup_state(df, ["k"], ["x"])
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_pagerank_int_matches_python_recurrence(spark):
    from tytodb_spark.operators.graph import ONE, pagerank_int

    # undirected star a-b, a-c plus chord b-c, loaded in both directions
    und = [(0, 1), (0, 2), (1, 2), (0, 3)]
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["pr"] for r in pagerank_int(df, iters=5).collect()}

    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(deg)
    tele = (3 * ONE) // (20 * n)
    pr = {v: ONE // n for v in deg}
    for _ in range(5):
        contrib = {v: 0 for v in deg}
        for s, d in edges:
            contrib[d] += pr[s] // deg[s]
        pr = {v: tele + (17 * contrib[v]) // 20 for v in deg}
    assert out == pr
    # the high-degree hub outranks the leaf
    assert out[0] > out[3]


def test_frequent_tokens_exact_partition_invariant(spark):
    # 'hot' is ~9% of the stream; everything else is unique filler, so
    # only 'hot' crosses the 5% threshold. MG candidates differ by
    # partitioning, the final output must not.
    rows = [Row(doc_id=i, text=f"hot u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h u{i}i") for i in range(200)]
    df = spark.createDataFrame(rows)
    expect = [("hot", 200)]
    for parts in (1, 8):
        out = X.frequent_tokens_exact(
            df.repartition(parts), "doc_id", "text", min_frac=0.05
        ).collect()
        assert [(r["term"], r["cnt"]) for r in out] == expect


def test_nb_classify_separable_classes(spark):
    train = spark.createDataFrame(
        [
            Row(doc_id=0, text="apple banana cherry apple", label="fruit"),
            Row(doc_id=1, text="banana apple apple cherry", label="fruit"),
            Row(doc_id=2, text="bolt nut wrench bolt", label="tool"),
            Row(doc_id=3, text="wrench bolt nut nut", label="tool"),
        ]
    )
    score = spark.createDataFrame(
        [
            Row(doc_id=10, text="apple cherry banana"),
            Row(doc_id=11, text="nut bolt wrench"),
            Row(doc_id=12, text="zzz unseen words"),  # all-OOV: priors tie -> label order
        ]
    )
    out = {
        r["doc_id"]: r["pred"]
        for r in X.nb_classify(train, score, "doc_id", "text", "label").collect()
    }
    assert out[10] == "fruit" and out[11] == "tool"
    assert out[12] == "fruit"  # equal priors + equal OOV likelihoods -> name asc


def test_bpe_merge_table_learns_expected_pairs(spark):
    # 'x y' dominates round 1 (4 occurrences incl. a back-to-back chain
    # that exercises the multi-pass fuse); after fusing, 'x~y x~y'
    # makes ('x~y','x~y') a candidate for round 2.
    rows = [
        Row(doc_id=0, text="x y x y p q"),
        Row(doc_id=1, text="x y r x y s"),
        Row(doc_id=2, text="p q r s"),
    ]
    out = X.bpe_merge_table(
        spark.createDataFrame(rows), "doc_id", "text", n_merges=2
    ).collect()
    by_idx = {r["merge_idx"]: (r["w1"], r["w2"], r["cnt"]) for r in out}
    assert by_idx[1] == ("x", "y", 4)  # all four x-y adjacencies fuse
    # round 2: bigrams of [x~y x~y p q], [x~y r x~y s], [p q r s]
    # -> ('p','q') has 2, everything else 1; ties can't win over 2
    assert by_idx[2] == ("p", "q", 2)


def test_bpe_round_barrier_is_semantically_inert(spark):
    """r12: bpe_apply runs _bpe_rounds with barrier=True (per-round
    corpus checkpoints — a materialization choice, never a semantic
    one). Guard: both barrier settings produce identical merge rules
    AND identical final segmentations, so the train/apply no-drift
    contract survives the optimization."""
    rows = [
        Row(doc_id=0, text="x y x y p q"),
        Row(doc_id=1, text="x y r x y s"),
        Row(doc_id=2, text="p q r s"),
    ]
    df = spark.createDataFrame(rows)
    from pyspark.sql import functions as SF

    from tytodb_spark.operators.textual import _bpe_rounds, spread, tokens

    def run(barrier):
        cur = spread(df.select("doc_id", "text"), "doc_id").select(
            SF.col("doc_id"),
            SF.concat(
                SF.lit(" "), SF.concat_ws(" ", tokens(SF.col("text"))), SF.lit(" ")
            ).alias("__t"),
        )
        results, final = _bpe_rounds(cur, "doc_id", 2, "~", barrier=barrier)
        rules = [tuple(r.collect()[0]) for r in results]
        seg = sorted(tuple(r) for r in final.collect())
        return rules, seg

    assert run(False) == run(True)


def test_hard_negatives_excludes_same_label(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),   # anchor
        Row(vec_id=1, embedding=[0.99, 0.1], label=0),  # near positive (excluded)
        Row(vec_id=2, embedding=[0.9, 0.2], label=1),   # hard negative
        Row(vec_id=3, embedding=[0.0, 1.0], label=1),   # easy negative
    ]
    df = spark.createDataFrame(rows)
    out = S.hard_negatives(
        df.filter(F.col("vec_id") == 0), df, "vec_id", "embedding", "label", k=2
    ).orderBy("rank").collect()
    assert [r["negative_id"] for r in out] == [2, 3]  # positive 1 never appears
    assert out[0]["cos_sim"] > out[1]["cos_sim"]


def test_alignment_scores_match_reference_math(spark):
    import hashlib as hl
    import math as m

    rows = [Row(doc_id=0, text="hello world"), Row(doc_id=1, text="spark")]
    df = spark.createDataFrame(rows)
    media = M.to_media_table(df, "doc_id", "text")
    out = {
        r["doc_id"]: r["alignment"]
        for r in M.alignment_scores(media, df, "doc_id", "text").collect()
    }

    def emb(b):
        h = hl.md5(b).hexdigest()
        return [int(h[4 * i : 4 * i + 4], 16) / 65535.0 for i in range(8)]

    for did, text in [(0, "hello world"), (1, "spark")]:
        iv, tv = emb(text.encode()), emb(("t:" + text).encode())
        num = sum(a * b for a, b in zip(iv, tv))
        den = m.sqrt(sum(a * a for a in iv)) * m.sqrt(sum(b * b for b in tv))
        assert out[did] == m.floor(num / den * 1e6 + 0.5) / 1e6


def test_count_min_never_undercounts_and_merges(spark):
    from tytodb_spark.operators.sketches import count_min_build, count_min_estimate

    items = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 10 + [("c",)] * 1, "term string"
    )
    sk = count_min_build(items, "term", depth=4, width=16)
    probes = spark.createDataFrame([("a",), ("b",), ("zz",)], "term string")
    est = {
        r["term"]: r["est"]
        for r in count_min_estimate(sk, probes, "term", depth=4, width=16).collect()
    }
    assert est["a"] >= 50 and est["b"] >= 10 and est["zz"] >= 0
    # mergeability: sketch(x ++ y) == sketch(x) + sketch(y) cell-wise
    s_all = {(r["d"], r["bucket"]): r["c"] for r in sk.collect()}
    sa = count_min_build(items.filter(F.col("term") == "a"), "term", 4, 16)
    sb = count_min_build(items.filter(F.col("term") != "a"), "term", 4, 16)
    merged: dict = {}
    for r in sa.collect() + sb.collect():
        merged[(r["d"], r["bucket"])] = merged.get((r["d"], r["bucket"]), 0) + r["c"]
    assert merged == s_all


def test_strip_duplicate_spans_rewrites_text(spark):
    shared = " ".join(f"c{i}" for i in range(10))
    rows = [
        Row(doc_id=0, text="a1 a2 a3 " + shared + " a4 a5"),
        Row(doc_id=1, text=shared + " b1 b2 b3 b4 b5 b6 b7"),
        Row(doc_id=2, text=" ".join(f"z{i}" for i in range(12))),
    ]
    out = {
        r["doc_id"]: r
        for r in X.strip_duplicate_spans(
            spark.createDataFrame(rows), "doc_id", "text", window=8
        ).collect()
    }
    assert out[0]["clean_text"] == "a1 a2 a3 a4 a5" and out[0]["n_removed"] == 10
    assert out[1]["clean_text"] == "b1 b2 b3 b4 b5 b6 b7"
    assert out[2]["n_removed"] == 0 and out[2]["clean_text"].startswith("z0 z1")


def test_strip_duplicate_spans_keep_first_preserves_one_copy(spark):
    shared = " ".join(f"c{i}" for i in range(8))
    rows = [
        Row(doc_id=0, text=shared + " a1 a2"),   # first occurrence -> kept
        Row(doc_id=1, text=shared + " b1 b2"),   # later occurrence -> stripped
    ]
    out = {
        r["doc_id"]: r
        for r in X.strip_duplicate_spans(
            spark.createDataFrame(rows), "doc_id", "text", window=8,
            keep_first=True,
        ).collect()
    }
    assert out[0]["n_removed"] == 0 and out[0]["clean_text"].endswith("a1 a2")
    assert out[1]["n_removed"] == 8 and out[1]["clean_text"] == "b1 b2"


from hypothesis import given, settings
from hypothesis import strategies as st


def _span_reference(texts: list[str], window: int) -> dict[int, tuple]:
    """Pure-Python twin of duplicate_span_stats."""
    from collections import Counter

    docs = {i: t.lower().split() for i, t in enumerate(texts)}
    counts: Counter = Counter()
    for toks in docs.values():
        for i in range(len(toks) - window + 1):
            counts[" ".join(toks[i : i + window])] += 1
    out = {}
    for did, toks in docs.items():
        pos = [
            i + 1
            for i in range(len(toks) - window + 1)
            if counts[" ".join(toks[i : i + window])] >= 2
        ]
        islands, dup_tokens = 0, 0
        i = 0
        while i < len(pos):
            j = i
            while j + 1 < len(pos) and pos[j + 1] - pos[j] < window:
                j += 1
            islands += 1
            dup_tokens += pos[j] - pos[i] + window
            i = j + 1
        out[did] = (len(toks), islands, dup_tokens)
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b"]), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
def test_duplicate_span_stats_matches_python_reference(spark, texts):
    # 2-token vocab + 3-token windows force heavy window collisions,
    # overlap chains, and sub-window docs — the adversarial regime for
    # the island merge.
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r["doc_id"]: (r["n_toks"], r["dup_islands"], r["dup_tokens"])
        for r in X.duplicate_span_stats(df, "doc_id", "text", window=3).collect()
    }
    assert got == _span_reference(texts, 3)


def test_bpe_apply_compression(spark):
    rows = [
        Row(doc_id=0, text="x y x y p q"),
        Row(doc_id=1, text="x y r x y s"),
        Row(doc_id=2, text="p q r s"),
    ]
    out = {
        r["doc_id"]: r
        for r in X.bpe_apply(
            spark.createDataFrame(rows), "doc_id", "text", n_merges=2
        ).collect()
    }
    # rules learned: (x,y) then (p,q) — doc 0: 6 syms -> [x~y x~y p~q] = 3
    assert (out[0]["n_syms_before"], out[0]["n_syms_after"]) == (6, 3)
    assert (out[1]["n_syms_before"], out[1]["n_syms_after"]) == (6, 4)
    assert (out[2]["n_syms_before"], out[2]["n_syms_after"]) == (4, 3)
    assert out[0]["compression"] == 0.5


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.sampled_from(["h", "i", "j", "k"]), min_size=5, max_size=60),
    st.integers(min_value=1, max_value=4),
)
def test_frequent_tokens_fuzz_exact_any_partitioning(spark, stream, parts):
    from collections import Counter

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(stream)]
    ).repartition(parts)
    got = {
        (r["term"], r["cnt"])
        for r in X.frequent_tokens_exact(df, "doc_id", "text", min_frac=0.3).collect()
    }
    c = Counter(stream)
    import math as m

    want = {(t, n) for t, n in c.items() if n >= m.ceil(0.3 * len(stream))}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.floats(0, 100)),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=0, max_value=39),
)
def test_incremental_rollup_fuzz_any_split(spark, rows, cut):
    from tytodb_spark.operators.incremental import merge_rollup, rollup_state

    schema = "k string, x double"
    clean = [(k, round(x, 2)) for k, x in rows]
    cut = min(cut, len(clean))
    df = spark.createDataFrame(clean, schema)
    base = spark.createDataFrame(clean[:cut], schema)
    delta = spark.createDataFrame(clean[cut:], schema)
    merged = merge_rollup(
        rollup_state(base, ["k"], ["x"]), rollup_state(delta, ["k"], ["x"]), ["k"]
    )
    full = rollup_state(df, ["k"], ["x"])
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_global_rank_partitioning_independent(spark):
    from tytodb_spark.operators.ranking import global_rank

    rows = [(float(v), i) for i, v in enumerate([5, 3, 8, 3, 1, 9, 2, 7])]
    expect = {
        i: r + 1
        for r, (v, i) in enumerate(sorted(rows, key=lambda t: (t[0], t[1])))
    }
    for parts in (1, 3, 8):
        df = spark.createDataFrame(rows, "v double, id long").repartition(parts)
        got = {r["id"]: r["rank"] for r in global_rank(df, ["v", "id"]).collect()}
        assert got == expect


def test_equi_depth_histogram_balanced(spark):
    from tytodb_spark.operators.ranking import equi_depth_histogram

    df = spark.createDataFrame(
        [(float(i % 17), i) for i in range(100)], "v double, id long"
    )
    out = sorted(
        (r["bin"], r["cnt"]) for r in equi_depth_histogram(df, "v", "id", 4).collect()
    )
    assert [b for b, _ in out] == [0, 1, 2, 3]
    assert all(c == 25 for _, c in out)  # 100 rows / 4 bins exactly


def test_bm25_retrieve_ranks_relevant_docs(spark):
    corpus = spark.createDataFrame(
        [
            Row(doc_id=0, text="spark join shuffle plan"),
            Row(doc_id=1, text="spark join broadcast"),   # shares 2 terms with 0
            Row(doc_id=2, text="spark streaming state"),  # shares 1 term
            Row(doc_id=3, text="completely unrelated words here"),
        ]
    )
    out = X.bm25_retrieve(
        corpus, corpus.filter(F.col("doc_id") == 0), "doc_id", "text", k=3
    ).orderBy("rank").collect()
    ids = [r["doc_id"] for r in out]
    assert 0 not in ids                # self-match excluded
    assert ids[0] == 1                 # most term overlap ranks first
    assert 3 not in ids                # no shared terms -> never retrieved
    assert out[0]["bm25"] > out[-1]["bm25"]


def test_pmi_pairs_hand_computed(spark):
    rows = [
        Row(doc_id=0, text="a b"),
        Row(doc_id=1, text="a b"),
        Row(doc_id=2, text="a b c"),
        Row(doc_id=3, text="a c"),
        Row(doc_id=4, text="d"),
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r["term_a"], r["term_b"]): r
        for r in X.pmi_pairs(df, "doc_id", "text", vocab_k=10, min_pair=2).collect()
    }
    # df(a)=4, df(b)=3, df(c)=2, N=5; n(a,b)=3, n(a,c)=2; (b,c)=1 < min_pair
    assert set(out) == {("a", "b"), ("a", "c")}
    assert out[("a", "b")]["n_ab"] == 3
    assert out[("a", "b")]["pmi_q"] == math.floor(math.log(3 * 5 / (4 * 3)) * 1e6 + 0.5)
    assert out[("a", "c")]["n_ab"] == 2
    assert out[("a", "c")]["pmi_q"] == math.floor(math.log(2 * 5 / (4 * 2)) * 1e6 + 0.5)


def test_pmi_pairs_vocab_cap(spark):
    rows = [Row(doc_id=i, text="x y z w") for i in range(3)]
    df = spark.createDataFrame(rows)
    out = X.pmi_pairs(df, "doc_id", "text", vocab_k=2, min_pair=2).collect()
    # only the 2 lexicographically-first of the tied terms survive the cap
    assert {(r["term_a"], r["term_b"]) for r in out} == {("w", "x")}


def test_token_entropy_values(spark):
    rows = [
        Row(doc_id=0, text="a a a a"),        # zero entropy
        Row(doc_id=1, text="a b c d"),        # uniform: 2 bits
        Row(doc_id=2, text="a a b"),          # H = log2(3) - (2/3)
    ]
    df = spark.createDataFrame(rows)
    out = {r["doc_id"]: r for r in X.token_entropy(df, "doc_id", "text").collect()}
    assert out[0]["entropy_q"] == 0 and out[0]["n_distinct"] == 1
    assert out[1]["entropy_q"] == 2_000_000 and out[1]["n_tokens"] == 4
    expect = math.log2(3) - 2 * math.log2(2) / 3
    assert out[2]["entropy_q"] == math.floor(expect * 1e6 + 0.5)


def test_chunk_with_overlap_covers_text(spark):
    rows = [
        Row(doc_id=0, text="x" * 200),
        Row(doc_id=1, text="short"),
        Row(doc_id=2, text=""),
    ]
    df = spark.createDataFrame(rows)
    out = X.chunk_with_overlap(df, "doc_id", "text", size=80, stride=60)
    rows_out = out.collect()
    by_doc = {}
    for r in rows_out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 200 chars, stride 60 -> chunks at 0,60,120,180 (len 80,80,80,20)
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert [len(r["chunk_text"]) for r in c0] == [80, 80, 80, 20]
    assert all(r["n_chunks"] == 4 for r in c0)
    # overlap: chunk i's last 20 chars == chunk i+1's first 20 chars
    assert c0[0]["chunk_text"][60:] == c0[1]["chunk_text"][:20]
    # short + empty docs emit exactly one chunk (nothing disappears)
    assert [r["chunk_text"] for r in by_doc[1]] == ["short"]
    assert [r["chunk_text"] for r in by_doc[2]] == [""]


def test_ewma_truncated_matches_pandas(spark):
    from tytodb_spark.operators.timeseries import ewma_truncated

    rows = [
        Row(k=1, t=i, v=float(x))
        for i, x in enumerate([10.0, 20.0, 10.0, 40.0, 0.0, 5.5, 7.25, 100.0, 1.0, 2.0])
    ] + [Row(k=2, t=0, v=3.0)]
    df = spark.createDataFrame(rows)
    out = ewma_truncated(df, "k", ["t"], "v", depth=8)
    got = {(r["k"], r["t"]): r for r in out.collect()}
    # reference recurrence: truncated sum of cents * 2^(7-lag) / 25500
    series = [1000, 2000, 1000, 4000, 0, 550, 725, 10000, 100, 200]
    for i in range(len(series)):
        num = sum(
            series[i - k] * 2 ** (7 - k) for k in range(8) if i - k >= 0
        )
        assert got[(1, i)]["ewma_q"] == math.floor(num * 1e6 / 25500.0 + 0.5)
    assert got[(2, 0)]["v_cents"] == 300
    # partitioning invariance
    out8 = ewma_truncated(df.repartition(8), "k", ["t"], "v", depth=8)
    assert sorted(map(tuple, out8.collect())) == sorted(map(tuple, out.collect()))


def test_bloom_no_false_negatives_and_low_fp(spark):
    from tytodb_spark.operators.sketches import bloom_build, bloom_probe

    keys = spark.range(0, 500).select(F.col("id").alias("k"))
    probes = spark.range(0, 2000).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k", m_bits=65536)
    out = bloom_probe(probes, "k", bloom, m_bits=65536).collect()
    hits = {r["k"] for r in out if r["bloom_hit"]}
    # the defining invariant: every true member hits
    assert set(range(500)) <= hits
    # fp rate for n=1000 positions in m=65536: (1-e^-2n/m)^2 ~ 0.09%... loose bound
    fp = len(hits) - 500
    assert fp < 60, fp


def test_bloom_merges_by_bit_or(spark):
    from tytodb_spark.operators.sketches import bloom_build

    a = spark.range(0, 100).select(F.col("id").alias("k"))
    b = spark.range(100, 200).select(F.col("id").alias("k"))
    both = spark.range(0, 200).select(F.col("id").alias("k"))
    merged = (
        bloom_build(a, "k").unionByName(bloom_build(b, "k"))
        .groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    )
    direct = bloom_build(both, "k")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_triangle_count_known_graph(spark):
    from tytodb_spark.operators.graph import triangle_count

    # K4 (4 triangles) + a disjoint path a-b-c (0 triangles, 1 wedge)
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    path = [(10, 11), (11, 12)]
    edges = spark.createDataFrame(
        [(u, v) for u, v in k4 + path] + [(3, 2), (2, 2)],  # dup edge + self loop ignored
        "src long, dst long",
    )
    r = triangle_count(edges).collect()[0]
    assert r["n_edges"] == 8
    assert r["n_triangles"] == 4
    # K4 wedges: C(3,2) per low-id orientation = 3+2+1... enumerate: oriented
    # edges (0,1)(0,2)(0,3)(1,2)(1,3)(2,3); wedges a<b<c sharing middle b:
    # (0,1,2)(0,1,3)(0,2,3)(1,2,3) = 4; path adds (10,11,12) = 1
    assert r["n_wedges"] == 5


def test_key_skew_report_exact_ppm(spark):
    from tytodb_spark.operators.quality import key_skew_report

    rows = [("hot",)] * 60 + [("warm",)] * 30 + [("cold",)] * 10
    df = spark.createDataFrame(rows, "k string")
    out = {r["k"]: r for r in key_skew_report(df, "k", top_n=2).collect()}
    assert set(out) == {"hot", "warm"}
    assert out["hot"]["rank"] == 1 and out["hot"]["cnt"] == 60
    assert out["hot"]["share_q"] == 600_000          # 60%
    assert out["hot"]["ratio_to_mean_q"] == 1_800_000  # 1.8x mean (mean=100/3)
    assert out["warm"]["share_q"] == 300_000


def test_quantile_normalize_ranks(spark):
    from tytodb_spark.operators.similarity import quantile_normalize

    rows = [
        Row(vec_id=0, embedding=[3.0, 1.0]),
        Row(vec_id=1, embedding=[1.0, 2.0]),
        Row(vec_id=2, embedding=[2.0, 3.0]),
        Row(vec_id=3, embedding=[2.0, 4.0]),  # tie on dim0 -> id breaks it
    ]
    df = spark.createDataFrame(rows)
    out = {(r["vec_id"], r["pos"]): r for r in
           quantile_normalize(df, "vec_id", "embedding").collect()}
    assert out[(1, 0)]["rnk"] == 1           # smallest on dim 0
    assert out[(2, 0)]["rnk"] == 2 and out[(3, 0)]["rnk"] == 3  # tie: id order
    assert out[(0, 0)]["rnk"] == 4
    assert out[(0, 0)]["norm_q"] == 800_000  # 4/5
    assert out[(1, 1)]["norm_q"] == 400_000  # rank 2 of 4 on dim 1


def test_knn_margin_confident_vs_ambiguous(spark):
    from tytodb_spark.operators.similarity import knn_margin

    # corpus = the four unit axes; q0 hugs axis 10 (confident), q1 is
    # exactly equidistant from every axis (ambiguous, margin 0)
    rows = [
        Row(vec_id=0, embedding=[0.9, 0.1, 0.05, 0.02]),
        Row(vec_id=1, embedding=[1.0, 1.0, 1.0, 1.0]),
        Row(vec_id=10, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=11, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=12, embedding=[0.0, 0.0, 1.0, 0.0]),
        Row(vec_id=13, embedding=[0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    queries = df.filter(F.col("vec_id") < 2)
    corpus = df.filter(F.col("vec_id") >= 10)
    out = {r["query_id"]: r for r in
           knn_margin(queries, corpus, "vec_id", "embedding", k=4).collect()}
    assert out[0]["best_id"] == 10 and out[0]["accepted"]
    assert not out[1]["accepted"]  # all cosines equal -> margin ~ 0
    assert out[1]["margin_q"] < 5000


def test_trigram_index_search_prunes_and_verifies(spark):
    rows = [
        Row(doc_id=0, text="a true SPARK engine"),        # match (case-folded)
        Row(doc_id=1, text="spa par ark split grams"),    # all trigrams, no substring
        Row(doc_id=2, text="nothing relevant"),           # pruned by the index
        Row(doc_id=3, text="sparkle"),                    # superstring still matches
    ]
    df = spark.createDataFrame(rows)
    out = X.trigram_index_search(df, "doc_id", "text", "spark").collect()
    assert {r["doc_id"] for r in out} == {0, 3}
    # doc 1 survives the index (covers spa/par/ark) but fails verification
    assert all(r["n_index_candidates"] == 3 for r in out)


def test_portable_hll_accuracy_and_merge(spark):
    from tytodb_spark.operators.sketches import hll_build, hll_estimate

    n = 5000
    keys = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g")
    )
    direct = hll_build(keys, "k")
    est = hll_estimate(direct).collect()[0]
    # expected stderr 1.04/sqrt(256) ~ 6.5%; assert a loose 3-sigma bound
    assert abs(est["hll_est_q"] / 1000.0 - n) < 0.2 * n
    # mergeability: per-group registers max-merged == direct build
    merged = (
        hll_build(keys, "k", ["g"]).groupBy("ridx").agg(F.max("rho").alias("rho"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_portable_hll_small_range_linear_counting(spark):
    from tytodb_spark.operators.sketches import hll_build, hll_estimate

    n = 30  # well under 2.5*m -> linear counting branch
    keys = spark.range(0, n).select(F.col("id").alias("k"))
    est = hll_estimate(hll_build(keys, "k")).collect()[0]
    # with n << m, registers rarely collide: estimate should be near-exact
    assert abs(est["hll_est_q"] / 1000.0 - n) <= 2


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc x", min_size=0, max_size=300),
        min_size=1,
        max_size=4,
    ),
    st.tuples(st.integers(2, 40), st.integers(1, 40)).filter(
        lambda t: t[1] <= t[0]
    ),
)
def test_fuzz_chunk_overlap_reconstructs(spark, texts, size_stride):
    size, stride = size_stride
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = X.chunk_with_overlap(df, "doc_id", "text", size=size, stride=stride)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, text in enumerate(texts):
        chunks = sorted(by_doc[did], key=lambda r: r["chunk_id"])
        # chunk i covers [i*stride, i*stride+size): stitching the
        # non-overlapping prefixes reconstructs the text exactly
        rebuilt = "".join(c["chunk_text"][:stride] for c in chunks[:-1])
        rebuilt += chunks[-1]["chunk_text"]
        assert rebuilt == text
        assert all(c["n_chunks"] == len(chunks) for c in chunks)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=0,
        max_size=25,
    )
)
def test_fuzz_triangle_count_vs_brute(spark, raw_edges):
    from itertools import combinations

    from tytodb_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        raw_edges or [(0, 0)], "src long, dst long"
    )
    adj: set[tuple] = {
        (min(u, v), max(u, v)) for u, v in (raw_edges or [(0, 0)]) if u != v
    }
    nodes = sorted({n for e in adj for n in e})
    expect = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    r = triangle_count(df).collect()[0]
    assert r["n_triangles"] == expect
    assert r["n_edges"] == len(adj)


def test_power_iteration_matches_numpy_direction(spark):
    import numpy as np

    from tytodb_spark.operators.similarity import power_iteration_dominant

    rng = np.random.RandomState(3)
    # strongly anisotropic cloud: dominant direction is unambiguous
    base = rng.randn(60, 6) * np.array([8.0, 3.0, 1.0, 0.5, 0.2, 0.1])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    out = power_iteration_dominant(df, "vec_id", "embedding", iters=6)
    v = np.zeros(6)
    for r in out.collect():
        v[r["pos"]] = r["v_q"]
    v = v / np.linalg.norm(v)
    xq = np.trunc(base.astype(np.float32).astype(np.float64) * 1e7)
    _, _, vt = np.linalg.svd(xq, full_matrices=False)
    top = vt[0] / np.linalg.norm(vt[0])
    assert abs(abs(float(v @ top)) - 1.0) < 1e-3
    # partitioning invariance of the integer pipeline
    out8 = power_iteration_dominant(
        df.repartition(8), "vec_id", "embedding", iters=6
    )
    assert sorted(map(tuple, out8.collect())) == sorted(map(tuple, out.collect()))


def test_incremental_cc_merges_old_and_new(spark):
    from tytodb_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
    )

    old_edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    old_labels = connected_components(old_edges)
    # new batch: its own pair (20,21) + a bridge joining both old comps
    new_edges = spark.createDataFrame(
        [(20, 21), (2, 10)], "id_a long, id_b long"
    )
    out = {r["vertex"]: r["component"] for r in
           connected_components_incremental(old_labels, new_edges).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 10: 0, 11: 0, 20: 20, 21: 20}


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest as _pytest

    from tytodb_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=3)


def test_poisson_bootstrap_ci_brackets_mean(spark):
    from tytodb_spark.operators.sampling import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(i, 50.0 + (i % 21) - 10) for i in range(2000)], "event_id long, value double"
    )
    r = poisson_bootstrap_ci(df, "event_id", "value", n_reps=32).collect()[0]
    assert r["n_rows"] == 2000
    # sample mean ~= 50.0 -> 5_000_000 milli-cents (49.9.. due to mod grid)
    assert abs(r["mean_q"] - 5_000_000) < 60_000
    # CI brackets the point estimate and is not absurdly wide
    assert r["lo_q"] <= r["mean_q"] <= r["hi_q"] and r["ci_ok"]
    assert (r["hi_q"] - r["lo_q"]) < 0.05 * r["mean_q"]
    # determinism across partitionings
    r8 = poisson_bootstrap_ci(
        df.repartition(8), "event_id", "value", n_reps=32
    ).collect()[0]
    assert tuple(r8) == tuple(r)


def test_skyline_dominance_and_ties(spark):
    from tytodb_spark.operators.ranking import skyline2

    rows = [
        (0, 0.9, 100),   # frontier (best quality)
        (1, 0.9, 100),   # exact tie of 0 -> both survive
        (2, 0.8, 50),    # frontier (cheaper, lower quality)
        (3, 0.8, 60),    # dominated by 2 (same q, more tokens)
        (4, 0.5, 50),    # dominated by 2 (same tokens, less q)
        (5, 0.95, 200),  # frontier (highest quality, most expensive)
        (6, 0.4, 10),    # frontier (cheapest)
    ]
    df = spark.createDataFrame(rows, "doc_id long, quality double, n_toks long")
    out = {r["doc_id"] for r in skyline2(df, "doc_id", "quality", "n_toks").collect()}
    assert out == {0, 1, 2, 5, 6}
    # partitioning invariance
    out8 = {r["doc_id"] for r in
            skyline2(df.repartition(8), "doc_id", "quality", "n_toks").collect()}
    assert out8 == out


def test_knn_margin_single_candidate_accepts(spark):
    from tytodb_spark.operators.similarity import knn_margin

    # corpus of exactly one vector after the self-filter: no runner-up
    # field -> the lone neighbor is accepted with margin_q = its own
    # ppm score (explicit semantics, not a NULL from 0/0)
    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 0.0]), Row(vec_id=1, embedding=[0.9, 0.1])]
    )
    out = knn_margin(
        df.filter(F.col("vec_id") == 0), df, "vec_id", "embedding", k=4
    ).collect()
    # self-filter leaves vec 1 as the only neighbor
    (r,) = [x for x in out if x["query_id"] == 0]
    assert r["best_id"] == 1
    assert r["margin_q"] is not None and r["margin_q"] > 20_000
    assert r["accepted"]


def test_poisson_bootstrap_ci_rank_config_raises(spark):
    import pytest as _pytest

    from tytodb_spark.operators.sampling import poisson_bootstrap_ci

    df = spark.createDataFrame([(0, 1.0)], "event_id long, value double")
    with _pytest.raises(ValueError, match="rank picks"):
        poisson_bootstrap_ci(df, "event_id", "value", n_reps=8, hi_rank=31)


def test_energy_windows_empty_and_short_payloads(spark):
    from tytodb_spark.operators.multimodal import energy_windows, to_media_table

    df = spark.createDataFrame(
        [(0, ""), (1, "A"), (2, "A" * 200)], "doc_id long, text string"
    )
    out = energy_windows(to_media_table(df, "doc_id", "text")).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 0 not in by_doc                      # empty payload: no segments
    assert len(by_doc[1]) == 1                  # sub-window payload: 1 segment
    assert by_doc[1][0]["energy_x100"] == 65 * 100  # ord('A') = 65, exact
    assert len(by_doc[2]) == 3                  # 200 // 64 = 3 full windows
    assert all(r["energy_x100"] == 6500 for r in by_doc[2])


def test_containment_catches_subdocument_jaccard_misses(spark):
    from tytodb_spark.operators.textual import containment_pairs, jaccard_pairs

    small = "alpha beta gamma delta"
    big = small + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, "unrelated text entirely different")],
        "doc_id long, text string",
    )
    cont = containment_pairs(df, "doc_id", "text", n=3, threshold=0.8).collect()
    assert {(r["id_a"], r["id_b"]) for r in cont} == {(1, 2)}
    assert cont[0]["containment"] == 1.0  # small fully inside big
    # Jaccard misses the same pair at any usable threshold
    jac = jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert not any({r["id_a"], r["id_b"]} == {1, 2} for r in jac)


def test_stream_exact_dedup_equals_cold_aggregate(spark):
    from pyspark.sql import functions as F
    from tytodb_spark.streaming.pipeline import stream_exact_dedup

    df = spark.createDataFrame(
        [(i, f"k{i % 7}") for i in range(100)], "doc_id long, text string"
    )
    out = {
        r["content_key"]: (r["keep_id"], r["n_copies"])
        for r in stream_exact_dedup(
            spark, df, "doc_id", F.col("text"), n_files=4
        ).collect()
    }
    cold = {
        r["text"]: (r["k"], r["n"])
        for r in df.groupBy("text")
        .agg(F.min("doc_id").alias("k"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == cold


def test_skyline_matches_bruteforce_on_random_data(spark):
    from tytodb_spark.operators.ranking import skyline2

    import numpy as np

    for seed in (3, 99):
        rng = np.random.default_rng(seed)
        # coarse grids force heavy ties on both axes
        rows = [
            (i, float(rng.integers(0, 12)) / 10.0, int(rng.integers(0, 15)))
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "id long, q double, t long")
        got = {
            (r["id"], r["q"], r["t"])
            for r in skyline2(df.repartition(7), "id", "q", "t").collect()
        }
        # O(n^2) reference: dominated iff someone is >= on q, <= on t,
        # strict on at least one
        ref = {
            (i, q, t)
            for (i, q, t) in rows
            if not any(
                (q2 >= q and t2 <= t and (q2 > q or t2 < t))
                for (_, q2, t2) in rows
            )
        }
        assert got == ref, (seed, len(got), len(ref))


def test_containment_pairs_match_bruteforce_on_random_docs(spark):
    from tytodb_spark.operators.textual import containment_pairs

    import numpy as np

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        n = int(rng.integers(4, 25))
        docs.append((i, " ".join(rng.choice(vocab, size=n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]) for r in
        containment_pairs(df, "doc_id", "text", n=3, threshold=0.8).collect()
    }

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    ref = set()
    sh = {i: shingles(t) for i, t in docs}
    for a in range(40):
        for b in range(a + 1, 40):
            sa, sb = sh[a], sh[b]
            if not sa or not sb:
                continue
            c = len(sa & sb) / min(len(sa), len(sb))
            if round(c, 6) >= 0.8:
                ref.add((a, b))
    assert got == ref


# ---------------------------------------------------------------------------
# mixed-type / non-ASCII fixture differentials (r04 verdict item #5):
# the q164/q195/q196 oracles must agree with Spark OFF the happy-path
# fixture shape — malformed JSON, mixed value types, non-ASCII and
# empty payloads.
# ---------------------------------------------------------------------------


def _write_parquet(spark, rows, schema, path):
    # single parquet FILE (like the real testdata), via Arrow — both
    # spark.read.parquet and DuckDB read_parquet take it directly
    import pyarrow.parquet as pq

    tbl = spark.createDataFrame(rows, schema).toArrow()
    pq.write_table(tbl, path)


@pytest.fixture(scope="module")
def mixed_sf_dir(spark, tmp_path_factory):
    """A synthetic sf-dir whose events.props is deliberately mixed-type
    and whose documents.text is non-ASCII / empty / short."""
    d = str(tmp_path_factory.mktemp("mixed_sf"))
    _write_parquet(
        spark,
        [
            (0, '{"a": 1, "b": 2}'),
            (1, '{"a": "5", "c": 3.5}'),
            (2, '{"a": true, "d.e": 7, "nest": {"x": 1}}'),
            (3, "not json at all"),
            (4, None),
            (5, '{"a": null}'),
            (6, '{"b": -12, "q\\"k": 9}'),
        ],
        "event_id long, props string",
        f"{d}/events.parquet",
    )
    _write_parquet(
        spark,
        [
            (0, "héllo wörld — ünïcode päyload " * 12),  # multi-byte chars
            (1, "ascii only payload " * 20),
            (2, ""),  # empty payload
            (3, "短"),  # shorter than one window, 3 UTF-8 bytes
            (4, "héllo wörld — ünïcode päyload " * 12),  # dup of 0
            (5, "ÿ" * 100),  # bytes >= 0xC3 pairs
        ],
        "doc_id long, text string",
        f"{d}/documents.parquet",
    )
    return d


@pytest.mark.parametrize(
    "qname", ["q164_map_key_census", "q195_frame_dedup", "q196_energy_segments"]
)
def test_mixed_fixture_oracle_parity(spark, mixed_sf_dir, qname):
    import duckdb

    from tests.oracle_compare import compare
    from tytodb_spark import queries as Q

    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{mixed_sf_dir}/{t}.parquet')"
        )
    qd = Q.REGISTRY[qname]
    res = compare(qd.fn(spark, mixed_sf_dir), con, qd.oracle)
    con.close()
    assert res["ok"], f"{qname}: {res}"


# ---------------------------------------------------------------------------
# round-5 operators: sparse cosine pairs, aHash hamming LSH
# ---------------------------------------------------------------------------


def test_sparse_cosine_matches_numpy_brute_force(spark):
    """Blocked pairs that survive must carry the EXACT quantized-weight
    cosine a brute-force numpy evaluation computes, and blocking must
    find every pair sharing >= 2 rare shingles above threshold."""
    import math
    from collections import Counter

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup of 0
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 0
        (3, "one two three four five six seven eight nine"),
        (4, "one two three four five six seven eight ten"),    # near-dup of 3
        (5, "completely different words entirely here now table chair"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r
        for r in X.sparse_cosine_pairs(
            df, "doc_id", "text", shingle_n=3, min_df=2, max_df=10,
            min_shared=2, threshold_ppm=300_000,
        ).collect()
    }

    # independent reference
    def shingles(t):
        toks = t.split()
        return [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]

    tf = {i: Counter(shingles(t)) for i, t in rows}
    dfc = Counter(g for c in tf.values() for g in c)
    n = len(rows)
    w = {
        i: {g: c * math.floor(math.log(n / dfc[g]) * 1e3) for g, c in cc.items()}
        for i, cc in tf.items()
    }
    norms = {i: sum(x * x for x in ww.values()) for i, ww in w.items()}
    expected = {}
    for a in range(n):
        for b in range(a + 1, n):
            shared = set(w[a]) & set(w[b])
            rare_shared = [g for g in shared if 2 <= dfc[g] <= 10]
            if len(rare_shared) < 2:
                continue
            dot = sum(w[a][g] * w[b][g] for g in shared)
            if norms[a] == 0 or norms[b] == 0:
                continue
            cos = dot / (math.sqrt(norms[a]) * math.sqrt(norms[b]))
            if math.floor(cos * 1e6) >= 300_000:
                expected[(a, b)] = (dot, math.floor(cos * 1e6))
    assert set(got) == set(expected)
    for k, (dot, cq) in expected.items():
        assert got[k]["dot"] == dot and got[k]["cos_q"] == cq
    assert (0, 2) in got and got[(0, 2)]["cos_q"] == 1_000_000  # exact dup
    assert (0, 1) in got and (3, 4) in got


def _ref_ahash(text: str) -> tuple[int, int] | None:
    raw = text.encode()[:48]
    if not raw:
        return None
    m = sum(raw) // len(raw)
    h = 0
    for i, b in enumerate(raw):
        if b > m:
            h |= 1 << i
    return h, len(raw)


def test_ahash48_matches_reference(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and then some"),
        (1, "héllo wörld — unicode päyload with multi-byte characters"),
        (2, "x"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in M.ahash48(df, "doc_id", "text").collect()}
    assert 3 not in got  # empty payload skipped
    for i, t in rows[:3]:
        h, nb = _ref_ahash(t)
        assert (got[i]["ahash"], got[i]["n_bytes"]) == (h, nb), i


def test_hamming_near_dups_complete_within_radius(spark):
    """Pigeonhole completeness: with 3 bands over 48 bits, EVERY pair
    within Hamming 2 must be found (no false negatives); verify against
    brute force over all pairs, and distances must be exact."""
    import itertools

    base = 0x5A5A5A5A5A5A  # 48-bit pattern
    hashes = [
        (0, base),
        (1, base ^ 0b1),            # hamming 1
        (2, base ^ 0b11),           # hamming 2 from 0
        (3, base ^ (1 << 20) ^ (1 << 40)),  # hamming 2, different bands
        (4, base ^ 0xFFF),          # hamming 12 — out of radius
        (5, 0x000000000000),
    ]
    df = spark.createDataFrame(hashes, "id long, ahash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in M.hamming_near_dups(
            df, n_bands=3, band_bits=16, max_hamming=2
        ).collect()
    }
    expect = {}
    hm = dict(hashes)
    for a, b in itertools.combinations(sorted(hm), 2):
        d = bin(hm[a] ^ hm[b]).count("1")
        if d <= 2:
            expect[(a, b)] = d
    assert got == expect
    assert (0, 1) in got and got[(0, 1)] == 1
    assert (0, 3) in got and got[(0, 3)] == 2


def test_kcore_matches_python_peeling(spark):
    """kcore vs a direct Python peel on a random-ish graph with known
    structure: one K5 clique, a long chain, and a barbell bridge."""
    from collections import defaultdict

    from tytodb_spark.operators.graph import kcore

    edges = []
    edges += [(a, b) for a in range(5) for b in range(a + 1, 5)]  # K5
    edges += [(i, i + 1) for i in range(10, 30)]                  # chain
    edges += [(4, 10)]                                            # bridge
    edges += [(a, b) for a in range(40, 44) for b in range(a + 1, 44)]  # K4
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["deg"] for r in kcore(df, k=3).collect()}

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    alive = set(adj)
    while True:
        drop = {u for u in alive if len(adj[u] & alive) < 3}
        if not drop:
            break
        alive -= drop
    expect = {u: len(adj[u] & alive) for u in alive}
    assert got == expect
    assert set(got) == set(range(5)) | set(range(40, 44))  # both cliques
def test_water_fill_caps_matches_brute_force(spark):
    # Skewed fixtures exercise both branches the uniform documents
    # fixture cannot: small keys kept whole below the water line, and
    # the keep-all fallback when the budget covers the corpus.
    from pyspark.sql import Row

    from tytodb_spark.operators.sampling import water_fill_caps

    cases = [
        [1, 1, 1, 1000],          # tiny keys whole, giant capped
        [5, 10, 20, 40, 80],      # geometric spread
        [7],                      # single key
        [100, 100, 100],          # uniform
        [1, 2, 3, 4, 5, 6, 7, 8, 9, 10],
        [999999999, 1, 1],        # extreme skew
    ]
    def run_case(args):
        # 24 independent tiny jobs: submitted from a pool so the suite
        # pays one scheduling floor, not 24 in sequence (guide §2.6)
        num, den, ts = args
        rows = [Row(k=f"k{i}", t=t) for i, t in enumerate(ts)]
        df = spark.createDataFrame(rows)
        return args, {
            r["k"]: (r["tokens"], r["cap"], r["kept_tokens"], r["keep_ppm"])
            for r in water_fill_caps(df, "k", "t", num, den).collect()
        }

    from concurrent.futures import ThreadPoolExecutor

    all_cases = [
        (num, den, ts)
        for num, den in ((1, 2), (9, 10), (1, 10), (1, 1))
        for ts in cases
    ]
    with ThreadPoolExecutor(max_workers=8) as pool:
        outs = list(pool.map(run_case, all_cases))
    for (num, den, ts), got in outs:
        b = sum(ts) * num // den
        # reference: largest c with sum(min(t, c)) <= b, by binary
        # search on the monotone allocated(c)
        lo, hi = 0, max(ts)
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if sum(min(t, mid) for t in ts) <= b:
                lo = mid
            else:
                hi = mid - 1
        cap = lo
        ref = {
            f"k{i}": (t, cap, min(t, cap), min(t, cap) * 1000000 // t)
            for i, t in enumerate(ts)
        }
        assert got == ref, (ts, (num, den), got, ref)


def test_connected_components_jump_converges_in_log_rounds(spark):
    """Pins the round-11 pointer jump (path halving): a 200-node path
    has diameter 199, so plain neighbor-min label propagation cannot
    converge in 13 rounds — with the jump, reach doubles per round
    (1, 2, 5, 11, 23, ..., 383) and the chain settles in ~10. If this
    raises, the jump was lost; if it mislabels, the jump is unsound."""
    from tytodb_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    out = connected_components(chain, max_iters=13).collect()
    assert len(out) == 200
    assert all(r["component"] == 0 for r in out)


def test_gram_partials_matches_numpy_and_skips_null_vectors(spark):
    """gram_partials: (a) the combined partials equal a single-shot
    numpy Gram over the non-null vectors regardless of partitioning,
    (b) NULL vectors contribute to NOTHING — not even the row-count
    marker (the q520 oracle counts the same universe)."""
    import numpy as np

    from tytodb_spark.operators.similarity import gram_partials

    rng = np.random.default_rng(11)
    vecs = [[float(x) for x in rng.normal(0, 0.3, 6)] for _ in range(41)]
    rows = [(i, v if i % 7 else None) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    for parts in (1, 5, 17):
        got = {
            (r["i"], r["j"]): r["v"]
            for r in gram_partials(df.repartition(parts), "embedding").collect()
        }
        keep = [
            np.trunc(np.array(v, dtype=np.float32).astype(np.float64) * 1e3)
            .astype(np.int64)
            for i, v in rows
            if v is not None
        ]
        X = np.stack(keep)
        assert got[(-1, -1)] == len(keep)
        for d in range(6):
            assert got[(d, -2)] == int(X[:, d].sum())
        G = X.T @ X
        for i in range(6):
            for j in range(i, 6):
                assert got[(i, j)] == int(G[i, j])


@given(
    s=st.integers(min_value=-(10**15), max_value=10**15),
    n=st.integers(min_value=1, max_value=10**9),
)
@settings(max_examples=300, deadline=None)
def test_shift_before_floor_div_identity(s, n):
    """The q519/q520 discipline: for any int s and n > 0, shifting the
    numerator non-negative before dividing gives exactly floor(s/n) —
    so Spark's truncating `div` (applied to the non-negative shifted
    numerator) equals DuckDB's flooring `//` equals Python's floor
    division, for EVERY sum the quantized operators can produce."""
    K = abs(s) // n + 1  # any K with s + n*K >= 0 works; pick minimal+1
    assert s + n * K >= 0
    shifted = (s + n * K) // n - K  # // == trunc here: numerator >= 0
    assert shifted == s // n  # Python floor division == DuckDB //
    # and the truncating engine agrees because the numerator is >= 0
    q, r = divmod(s + n * K, n)
    assert q == (s + n * K) // n and r >= 0
