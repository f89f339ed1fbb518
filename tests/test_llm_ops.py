"""Tests for the LLM-data-pipeline operators: dedup (exact / minhash
LSH / simhash / jaccard), similarity search, text analysis, multimodal
plumbing."""

import pytest
from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.operators.dedup import (
    candidate_pairs,
    exact_duplicate_groups,
    lsh_buckets,
    minhash_signature,
    simhash16,
)
from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
    decode_image_features,
    frame_sample,
    media_from_documents,
    payload_metadata,
)
from lofar_bf_pulsar_scripts_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    ivf_assign,
    ivf_topk,
)
from lofar_bf_pulsar_scripts_spark.operators.text import (
    language_scores,
    token_count,
    word_shingles,
)


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the afternoon sun light"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different content about spark query planning engines"),
        (4, "unrelated text mentioning pulsars dispersion measures and radio"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicate_groups(spark, docs):
    groups = exact_duplicate_groups(docs, ["text"], "doc_id").collect()
    dups = [g for g in groups if g["n_dups"] > 1]
    assert len(dups) == 1
    assert dups[0]["n_dups"] == 2 and dups[0]["keep_id"] == 0


def test_minhash_lsh_finds_near_dups(spark, docs):
    sigs = minhash_signature(docs, num_hashes=16)
    buckets = lsh_buckets(sigs, "doc_id", bands=8, rows_per_band=2)
    pairs = {(r["id_a"], r["id_b"]) for r in candidate_pairs(buckets, "doc_id").collect()}
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup should band-collide
    assert (3, 4) not in pairs  # unrelated docs must not


def test_minhash_estimates_jaccard(spark, docs):
    # identical docs -> identical signatures
    sigs = {
        r["doc_id"]: r["minhash"]
        for r in minhash_signature(docs, num_hashes=16).collect()
    }
    assert sigs[0] == sigs[1]
    agree_near = sum(a == b for a, b in zip(sigs[0], sigs[2])) / 16
    agree_far = sum(a == b for a, b in zip(sigs[0], sigs[3])) / 16
    assert agree_near > agree_far


def test_simhash_distance(spark, docs):
    sh = {r["doc_id"]: r["sh"] for r in docs.select("doc_id", simhash16("text").alias("sh")).collect()}
    assert sh[0] == sh[1]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[3])


def test_shingles_and_tokens(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "text string")
    rows = df.select(
        token_count("text").alias("n"), word_shingles("text", 3).alias("s")
    ).collect()
    assert rows[0]["n"] == 4 and rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["n"] == 2 and rows[1]["s"] == []  # < k tokens


def test_language_scores_picks_marked_language(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog is happy that you see"),
            (1, "der hund und die katze ist nicht ein problem"),
            (2, "el perro y la casa es una maravilla que ver"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in language_scores(df).collect()}
    assert got == {0: "en", 1: "de", 2: "es"}


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.normal(0, 1, (40, 16)).astype("float32")
    base[1] = base[0] + 0.01 * rng.normal(0, 1, 16).astype("float32")  # near 0
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    top = brute_force_topk(vectors, q, k=3).collect()
    assert len(top) == 3
    assert top[0]["vec_id"] == 1  # planted nearest neighbor
    cs = [r["cos"] for r in sorted(top, key=lambda r: -r["cos"])]
    assert cs == sorted(cs, reverse=True) and cs[0] > 0.99


def test_ivf_recall_of_planted_neighbor(spark, vectors):
    cents = vectors.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    assigned = ivf_assign(vectors, cents)
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    top = ivf_topk(assigned, q, cents, k=3, nprobe=2).collect()
    assert top and top[0]["vec_id"] == 1


def test_multimodal_pipeline(spark, docs):
    media = media_from_documents(
        docs.withColumn("source", F.lit("s")).withColumn("lang", F.lit("en"))
    )
    meta = {r["media_id"]: r for r in payload_metadata(media).collect()}
    assert meta[0]["byte_len"] == len(BASE)
    assert meta[0]["content_md5"] == meta[1]["content_md5"]
    feats = {r["media_id"]: r for r in decode_image_features(media).collect()}
    assert feats[0]["width"] == feats[1]["width"]  # deterministic fake decode
    assert 64 <= feats[0]["width"] < 256 and feats[0]["byte_len"] == len(BASE)
    frames = frame_sample(media.filter(F.col("media_id") == 0), every_n_bytes=32).collect()
    assert len(frames) >= 2
    assert frames[0]["byte_offset"] == 0 and frames[1]["byte_offset"] == 32
    joined = b"".join(bytes(f["frame_bytes"]) for f in sorted(frames, key=lambda f: f["frame_idx"]))
    assert joined[: len(joined)] == BASE.encode()[: len(joined)]


def test_decode_unknown_decoder_raises(spark, docs):
    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        pillow_available,
    )

    media = media_from_documents(
        docs.withColumn("source", F.lit("s"))
    )
    with pytest.raises(NotImplementedError):
        decode_image_features(media, decoder="no-such-decoder")
    if not pillow_available():
        with pytest.raises(NotImplementedError):
            decode_image_features(media, decoder="pillow")


def _tiny_bmp(width: int = 4, height: int = 2) -> bytes:
    """Hand-crafted 24-bit BMP (no image lib needed to CREATE it):
    bottom row black, top row white -> mean luma exactly 0.5."""
    import struct

    rows = []
    for y in range(height):  # stored bottom-up
        val = 0 if y < height // 2 else 255
        row = bytes([val] * 3 * width)
        row += b"\0" * ((4 - len(row) % 4) % 4)
        rows.append(row)
    pixels = b"".join(rows)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels),
        2835, 2835, 0, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 54)
    return header + dib + pixels


def test_decode_real_pillow(spark):
    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        pillow_available,
    )

    if not pillow_available():
        pytest.skip("Pillow not installed — real-decoder path untestable")
    bmp = _tiny_bmp(width=4, height=2)
    media = spark.createDataFrame(
        [(0, bmp), (1, b"not an image")],
        "media_id int, payload binary",
    )
    feats = {
        r["media_id"]: r
        for r in decode_image_features(media, decoder="pillow").collect()
    }
    assert (feats[0]["width"], feats[0]["height"]) == (4, 2)
    assert feats[0]["channels"] == 3
    assert feats[0]["mean_luma"] == pytest.approx(0.5, abs=1e-6)
    # undecodable payload maps to the sentinel row, not an executor crash
    assert (feats[1]["width"], feats[1]["height"]) == (0, 0)


def test_cosine_expression_matches_numpy(spark, vectors):
    import numpy as np

    rows = vectors.filter(F.col("vec_id").isin(0, 1)).collect()
    a = np.array(rows[0]["embedding"], dtype="float64")
    b = np.array(rows[1]["embedding"], dtype="float64")
    expected = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    df = spark.createDataFrame(
        [(rows[0]["embedding"], rows[1]["embedding"])],
        "a array<float>, b array<float>",
    )
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).first()["c"]
    assert got == pytest.approx(expected, rel=1e-12)


def test_hash_split_deterministic_and_proportional(spark):
    from lofar_bf_pulsar_scripts_spark.operators.pipeline import hash_split

    df = spark.range(20000).select(F.col("id").cast("string").alias("doc_id"))
    out = hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.01
    # determinism: same assignment on re-computation and reordering
    again = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.orderBy(F.desc("doc_id")), {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    }
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again
    # md5 mode: same proportions, engine-portable membership
    md5_counts = {
        r["split"]: r["n"]
        for r in hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1}, hash_fn="md5")
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert abs(md5_counts["train"] / 20000 - 0.8) < 0.02
    import pytest

    with pytest.raises(ValueError):
        hash_split(df, {"a": 1.0}, hash_fn="sha1")


def test_connected_components_clusters(spark):
    from lofar_bf_pulsar_scripts_spark.operators.pipeline import connected_components

    # two chains and a singleton edge: {1-2-3-4}, {10-11}, {20-21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "src long, dst long"
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert {got[1], got[2], got[3], got[4]} == {1}
    assert {got[10], got[11]} == {10}
    assert {got[20], got[21]} == {20}


def test_connected_components_long_chain_converges(spark, tmp_path):
    from lofar_bf_pulsar_scripts_spark.operators.pipeline import connected_components

    n = 40  # a path graph needs ~log(n) label-jump iterations
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = connected_components(
        edges, max_iter=50, checkpoint_dir=str(tmp_path)
    )
    comps = {r.component for r in got.collect()}
    assert comps == {0}


def test_pq_encode_matches_numpy(spark):
    import numpy as np

    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        PQ_MOD,
        PQ_MULT,
        pq_encode,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 64)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["codes"]
        for r in df.select(
            "vec_id", pq_encode(F.col("embedding"), dims=64).alias("codes")
        ).collect()
    }

    def codebook(m, c, d):
        return ((1 + 101 * m + 31 * c + 7 * d) * PQ_MULT) % PQ_MOD - 96

    for i, v in enumerate(vecs):
        mx = np.abs(v.astype("float64")).max()
        qv = np.floor(v.astype("float64") / mx * 127 + 0.5).astype("int64")
        want = []
        for m in range(4):
            sub = qv[m * 16 : (m + 1) * 16]
            dists = [
                int(sum((sub[d] - codebook(m, c, d)) ** 2 for d in range(16)))
                for c in range(16)
            ]
            want.append(min(range(16), key=lambda c: (dists[c], c)))
        assert list(got[i]) == want, i
    # zero vector encodes deterministically (all-zero quantized)
    z = spark.createDataFrame(
        [(0, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    zc = z.select(pq_encode(F.col("embedding"), dims=64).alias("c")).first()["c"]
    assert len(zc) == 4 and all(0 <= c < 16 for c in zc)
    with pytest.raises(ValueError):
        pq_encode(F.col("embedding"), dims=63)


def test_pq_adc_topk_matches_numpy(spark):
    import numpy as np

    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        PQ_MOD,
        PQ_MULT,
        pq_adc_topk,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 64)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    qdf = df.filter(F.col("vec_id") < 2).withColumnRenamed("vec_id", "qid")
    got = pq_adc_topk(df, qdf, dims=64, topk=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["vec_id"], r["adc_dist"]))

    def cb(m, c, d):
        return ((1 + 101 * m + 31 * c + 7 * d) * PQ_MULT) % PQ_MOD - 96

    def quant(v):
        mx = np.abs(v.astype("float64")).max()
        return np.floor(v.astype("float64") / mx * 127 + 0.5).astype("int64")

    def encode(qv):
        out = []
        for m in range(4):
            sub = qv[m * 16 : (m + 1) * 16]
            dists = [
                int(sum((sub[d] - cb(m, c, d)) ** 2 for d in range(16)))
                for c in range(16)
            ]
            out.append(min(range(16), key=lambda c: (dists[c], c)))
        return out

    codes = {i: encode(quant(v)) for i, v in enumerate(vecs)}
    for qid in (0, 1):
        qv = quant(vecs[qid])
        dists = {}
        for vid in range(40):
            if vid == qid:
                continue
            d = 0
            for m in range(4):
                c = codes[vid][m]
                d += int(
                    sum(
                        (qv[m * 16 + dd] - cb(m, c, dd)) ** 2
                        for dd in range(16)
                    )
                )
            dists[vid] = d
        want = sorted(dists, key=lambda v: (dists[v], v))[:3]
        assert [v for v, _ in sorted(by_q[qid], key=lambda t: (t[1], t[0]))] == want
        for vid, d in by_q[qid]:
            assert d == dists[vid]


def test_bloom_screen_no_false_negatives_and_fp_behavior(spark):
    from lofar_bf_pulsar_scripts_spark.operators.dedup import (
        bloom_build,
        bloom_screen,
    )

    hist = spark.range(500).select(
        F.concat(F.lit("fp"), F.col("id")).alias("fp")
    )
    # 200 overlap with history + 300 novel
    new = spark.range(300, 800).select(
        F.concat(F.lit("fp"), F.col("id")).alias("fp")
    )
    m = 1 << 16
    bloom = bloom_build(hist, m_bits=m)
    out = bloom_screen(new, bloom, m_bits=m).collect()
    flags = {r["fp"]: r["bloom_positive"] for r in out}
    # NO false negatives: every true duplicate is positive
    for i in range(300, 500):
        assert flags[f"fp{i}"] is True
    # at 500*4/65536 bits set, FP rate ~ (1-e^-0.03)^4 ~ 1e-6: the
    # 300 novel fps are (deterministically) all negative here
    novel_pos = sum(flags[f"fp{i}"] for i in range(500, 800))
    assert novel_pos == 0
    # a cramped filter (m=256) MUST false-positive yet never
    # false-negative — the approximation degrades in one direction only
    tiny = bloom_screen(new, bloom_build(hist, m_bits=256), m_bits=256)
    tflags = {r["fp"]: r["bloom_positive"] for r in tiny.collect()}
    assert all(tflags[f"fp{i}"] for i in range(300, 500))
    assert sum(tflags[f"fp{i}"] for i in range(500, 800)) > 250
    # deterministic across evaluations
    assert {r["fp"]: r["bloom_positive"] for r in out} == flags


def test_temperature_mix_rates_and_nesting(spark):
    from lofar_bf_pulsar_scripts_spark.operators.pipeline import (
        temperature_mix,
        temperature_mix_rates,
    )

    # 2 sources, 10:1 size skew — alpha=0.5 should upweight the small
    # source's keep RATE by ~sqrt(10) relative to the big one.
    df = spark.range(22000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 20000, "web").otherwise("books").alias(
            "source"
        ),
    )
    # budget 0.3: neither source clamps, so the rate ratio is exactly
    # (n_web/n_books)^(1-alpha) = sqrt(10)
    rates = {
        r["source"]: r
        for r in temperature_mix_rates(df, alpha=0.5, budget_frac=0.3)
        .collect()
    }
    assert rates["web"]["n_docs"] == 20000
    p_web = rates["web"]["thresh"] / 1e6
    p_books = rates["books"]["thresh"] / 1e6
    assert p_books / p_web == pytest.approx((20000 / 2000) ** 0.5, rel=1e-3)
    expected = p_web * 20000 + p_books * 2000
    assert expected == pytest.approx(0.3 * 22000, rel=1e-3)
    # budget 0.5: the small source's rate crosses 1 and CLAMPS (no
    # redistribution — the budget is an upper bound, standard mixer
    # behavior); the kept total is then p_web*20000 + all 2000
    r5 = {
        r["source"]: r
        for r in temperature_mix_rates(df, alpha=0.5, budget_frac=0.5)
        .collect()
    }
    assert r5["books"]["thresh"] == 1_000_000
    kept = temperature_mix(df, alpha=0.5, budget_frac=0.5)
    n = kept.count()
    target = (r5["web"]["thresh"] / 1e6) * 20000 + 2000
    assert abs(n - target) / target < 0.03  # md5 bucket noise
    # nested in budget_frac: every row kept at 0.25 is kept at 0.5
    small = {
        r["doc_id"]
        for r in temperature_mix(df, alpha=0.5, budget_frac=0.25).collect()
    }
    big = {r["doc_id"] for r in kept.collect()}
    assert small <= big
    # deterministic across evaluations
    assert {r["doc_id"] for r in kept.collect()} == big
    # alpha=1 is proportional: both sources keep at the same rate
    r1 = {
        r["source"]: r["thresh"]
        for r in temperature_mix_rates(df, alpha=1.0, budget_frac=0.5)
        .collect()
    }
    assert r1["web"] == pytest.approx(r1["books"], abs=1)


def test_hash_sample_stratified_deterministic_nested(spark):
    from lofar_bf_pulsar_scripts_spark.operators.pipeline import hash_sample

    df = spark.range(30000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("lo"), F.lit("mid"), F.lit("hi")),
            F.pmod(F.col("id"), F.lit(3)).cast("int") + 1,
        ).alias("quality"),
    )
    kept = hash_sample(
        df, {"lo": 0.1, "hi": 1.0}, stratum_col="quality",
        default_fraction=0.5,
    )
    counts = {
        r["quality"]: r["n"]
        for r in kept.groupBy("quality").agg(F.count("*").alias("n")).collect()
    }
    assert abs(counts["lo"] / 10000 - 0.1) < 0.02
    assert counts["hi"] == 10000  # fraction 1.0 keeps everything
    assert abs(counts["mid"] / 10000 - 0.5) < 0.03  # default fraction
    # nested: every row kept at 0.1 is kept at 0.2
    lo_small = {
        r["doc_id"]
        for r in hash_sample(
            df, {"lo": 0.1}, stratum_col="quality"
        ).collect()
    }
    lo_big = {
        r["doc_id"]
        for r in hash_sample(
            df, {"lo": 0.2}, stratum_col="quality"
        ).collect()
    }
    assert lo_small < lo_big


def test_pack_sequences_first_fit(spark):
    from lofar_bf_pulsar_scripts_spark.operators.pipeline import pack_sequences

    rows = [(f"d{i}", 100 + (i * 37) % 900) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    out = pack_sequences(df, max_tokens=2048, n_buckets=4).collect()
    assert len(out) == 300  # every doc packed exactly once
    per_pack = {}
    for r in out:
        per_pack.setdefault(r["pack_id"], []).append(r["n_tokens"])
    for pid, toks in per_pack.items():
        assert sum(toks) <= 2048, pid
    # packing efficiency: greedy FFD should stay well above half-full
    fills = [sum(t) for t in per_pack.values()]
    assert sum(fills) / (len(fills) * 2048) > 0.6
    # oversized doc gets its own pack
    big = spark.createDataFrame([("huge", 5000), ("small", 10)], "doc_id string, n_tokens long")
    out2 = pack_sequences(big, max_tokens=2048, n_buckets=1).collect()
    packs = {r["doc_id"]: r["pack_id"] for r in out2}
    assert packs["huge"] != packs["small"] or len({r["pack_id"] for r in out2}) == 2


def test_redact_pii_and_counts(spark):
    from lofar_bf_pulsar_scripts_spark.operators.text import pii_counts, redact_pii

    rows = [
        ("a", "contact john.doe+x@example.co.uk or call +31 6 1234 5678 now"),
        ("b", "server at 192.168.1.17 responded; version 2.1.3 unchanged"),
        ("c", "no pii here, just text with numbers 42 and 3.14"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {
        r.doc_id: (r.clean, r.counts)
        for r in df.select(
            "doc_id",
            redact_pii("text").alias("clean"),
            pii_counts("text").alias("counts"),
        ).collect()
    }
    assert "<EMAIL>" in out["a"][0] and "example.co.uk" not in out["a"][0]
    assert "<PHONE>" in out["a"][0]
    assert out["a"][1]["emails"] == 1 and out["a"][1]["phones"] == 1
    assert "<IP>" in out["b"][0] and "192.168.1.17" not in out["b"][0]
    # version strings survive (dotted short numbers are not IPs... 2.1.3
    # has only 3 octets)
    assert "2.1.3" in out["b"][0]
    assert out["c"][0] == rows[2][1]  # untouched
    assert out["c"][1]["emails"] == out["c"][1]["ips"] == out["c"][1]["phones"] == 0


def test_connected_components_random_graphs_vs_union_find(spark):
    # property check: label propagation must match a classic
    # union-find on random sparse graphs
    import numpy as np

    from lofar_bf_pulsar_scripts_spark.operators.pipeline import connected_components

    rng = np.random.RandomState(13)
    for trial in range(3):
        n = 60
        m = 45
        src = rng.randint(0, n, m)
        dst = rng.randint(0, n, m)
        edges = [(int(a), int(b)) for a, b in zip(src, dst) if a != b]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {}
        for a, b in edges:
            for v in (a, b):
                expected[v] = find(v)
        # canonical component id = min member
        comp_min = {}
        for v, r in expected.items():
            comp_min.setdefault(r, v)
            comp_min[r] = min(comp_min[r], v)

        # threshold=0 forces the distributed label-propagation path;
        # the default exercises the driver-side union-find fallback
        for thresh in (0, 2_000_000):
            got = {
                r.node: r.component
                for r in connected_components(
                    spark.createDataFrame(edges, "src long, dst long"),
                    max_iter=30,
                    small_graph_threshold=thresh,
                ).collect()
            }
            assert set(got) == set(expected), (trial, thresh)
            for v in expected:
                assert got[v] == comp_min[expected[v]], (trial, thresh, v)


def test_domain_ops(spark):
    from lofar_bf_pulsar_scripts_spark.operators.web import (
        blocklist_filter,
        domain_stats,
        with_domain,
    )

    df = spark.createDataFrame(
        [
            (0, "https://a.example.com/x", 10),
            (1, "https://B.example.com:8080/y?q=1", 20),
            (2, "ftp://c.example.com/z", 30),
            (3, "https://a.example.com/w", 40),
            (4, "HTTPS://a.example.com/caps", 50),  # uppercase scheme
        ],
        "doc_id long, url string, n_chars long",
    )
    d = with_domain(df)
    doms = {r["doc_id"]: r["domain"] for r in d.collect()}
    assert doms == {
        0: "a.example.com",
        1: "b.example.com",  # port stripped, lower-cased
        2: "c.example.com",
        3: "a.example.com",
        4: "a.example.com",  # scheme case must not defeat the blocklist
    }
    kept = blocklist_filter(d, ["a.example.com"])
    assert {r["doc_id"] for r in kept.collect()} == {1, 2}
    # empty blocklist is the identity
    assert blocklist_filter(d, []).count() == 5
    stats = {r["domain"]: (r["n_docs"], r["total_chars"])
             for r in domain_stats(d).collect()}
    assert stats["a.example.com"] == (3, 100)


def test_global_rank_matches_single_sort(spark):
    from lofar_bf_pulsar_scripts_spark.operators.pipeline import (
        global_rank,
        hex_prefix_bucket,
        shuffle_key,
    )

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    keyed = df.withColumn("__k", shuffle_key(F.col("doc_id"), 7))
    ranked = {
        r["doc_id"]: r["rank"]
        for r in global_rank(
            keyed,
            ["__k", "doc_id"],
            bucket=hex_prefix_bucket(F.col("__k"), 16),
        ).collect()
    }
    expected = {
        r["doc_id"]: i + 1
        for i, r in enumerate(keyed.orderBy("__k", "doc_id").collect())
    }
    assert ranked == expected
    # ranks are a permutation of 1..n
    assert sorted(ranked.values()) == list(range(1, 5001))


def test_kmeans_step(spark, vectors):
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        kmeans_assign,
        kmeans_update,
    )
    import numpy as np

    rows = vectors.collect()
    emb = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in rows}
    cents = vectors.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    assigned = kmeans_assign(vectors, cents)
    got = {r["vec_id"]: r["cid"] for r in assigned.collect()}
    for vid, vec in emb.items():
        # L2 argmin via the integer-quantized 2*x.c - |c|^2 score
        score = {
            c: 2 * int(np.floor(vec * emb[c] * 1e12 + 0.5).sum())
            - int(np.floor(emb[c] * emb[c] * 1e12 + 0.5).sum())
            for c in range(4)
        }
        best = max(sorted(score), key=lambda c: (score[c], -c))
        assert got[vid] == best, (vid, got[vid], best)
    upd = kmeans_update(assigned)
    r0 = {(r["cid"], r["dim"]): (r["sum_q"], r["n"]) for r in upd.collect()}
    # every (cid, dim) cell present; counts consistent per cid
    ncids = len({c for c, _ in r0})
    dims = len(emb[0])
    assert len(r0) == ncids * dims
    # spot-check one cell against numpy
    cid0 = got[0]
    members = [v for v, c in got.items() if c == cid0]
    expect_sum = sum(int(np.floor(emb[m][0] * 1e6 + 0.5)) for m in members)
    assert r0[(cid0, 0)] == (expect_sum, len(members))


def test_kmeans_fit_recovers_planted_clusters(spark):
    from lofar_bf_pulsar_scripts_spark.operators.similarity import kmeans_fit
    import numpy as np

    rng = np.random.RandomState(3)
    centers = np.array(
        [[5.0] * 8, [-5.0] * 8, [5.0] * 4 + [-5.0] * 4]
    )
    rows = []
    truth = {}
    for i in range(90):
        c = i % 3
        v = centers[c] + 0.3 * rng.normal(0, 1, 8)
        rows.append((i, [float(x) for x in v]))
        truth[i] = c
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, assigned, n_iters = kmeans_fit(df, k=3, max_iter=8)
    got = {r["vec_id"]: r["cid"] for r in assigned.collect()}
    # cluster labels are arbitrary — check the PARTITION matches
    by_truth = {}
    for vid, t in truth.items():
        by_truth.setdefault(t, set()).add(got[vid])
    # each true cluster maps to exactly one predicted cid, all distinct
    assert all(len(s) == 1 for s in by_truth.values())
    assert len({next(iter(s)) for s in by_truth.values()}) == 3
    assert 1 <= n_iters <= 8
    # determinism: a second run returns the identical assignment
    _, assigned2, _ = kmeans_fit(df, k=3, max_iter=8)
    assert got == {r["vec_id"]: r["cid"] for r in assigned2.collect()}


def test_kmeans_parallel_seeding_rounds_and_determinism(spark):
    """k-means|| seeding: O(log k) corpus passes (not k-1), seeds
    deterministic and spread across planted clusters."""
    import math

    import numpy as np

    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        kmeans_parallel_seeds,
    )

    rng = np.random.RandomState(11)
    centers = np.array([[6.0] * 6, [-6.0] * 6, [6.0] * 3 + [-6.0] * 3,
                        [-6.0] * 3 + [6.0] * 3])
    rows = []
    for i in range(200):
        v = centers[i % 4] + 0.4 * rng.normal(0, 1, 6)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    seeds, n_rounds = kmeans_parallel_seeds(df, k=4)
    assert len(seeds) == 4
    # pass-count bound: O(log k), never k-1 sequential scans
    assert n_rounds <= math.ceil(math.log2(4)) + 1
    # each seed lies near a DISTINCT planted center
    near = set()
    for s in seeds:
        d = ((centers - np.array(s)) ** 2).sum(axis=1)
        assert d.min() < 36.0, s  # inside a cluster, not between
        near.add(int(np.argmin(d)))
    assert near == {0, 1, 2, 3}
    # bit-deterministic across runs
    seeds2, _ = kmeans_parallel_seeds(df, k=4)
    assert seeds == seeds2
    # degenerate: k larger than distinct points still yields k seeds
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    s3, _ = kmeans_parallel_seeds(tiny, k=5)
    assert len(s3) == 5


def _tiny_wav(rate=16000, channels=2, bits=16, n_samples=8000) -> bytes:
    import struct

    data = b"\0" * (n_samples * channels * bits // 8)
    byte_rate = rate * channels * bits // 8
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                byte_rate, channels * bits // 8, bits)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_wav_metadata_jvm_parse(spark):
    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        wav_metadata,
    )

    media = spark.createDataFrame(
        [(0, _tiny_wav()), (1, b"not audio at all" * 4)],
        "media_id int, payload binary",
    )
    rows = {r["media_id"]: r for r in wav_metadata(media).collect()}
    w = rows[0]
    assert w["is_wav"] and w["audio_format"] == 1
    assert w["channels"] == 2 and w["sample_rate_hz"] == 16000
    assert w["bits_per_sample"] == 16
    assert w["data_bytes"] == 8000 * 2 * 2
    assert w["duration_s"] == pytest.approx(0.5, abs=1e-6)
    n = rows[1]
    assert not n["is_wav"] and n["sample_rate_hz"] is None


def test_lsh_ann_topk_planted_neighbor_and_determinism(spark, vectors):
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        _with_lsh_buckets,
        lsh_ann_topk,
    )

    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    top = lsh_ann_topk(
        vectors, q, k=3, n_tables=4, n_bits=4, dims=16
    ).collect()
    # vec 1 is a tiny perturbation of vec 0 (cos > 0.99): sign-LSH
    # collides near-identical vectors in every table w.h.p.
    assert top and top[0]["vec_id"] == 1 and top[0]["cos"] > 0.99
    # every candidate shares >= 1 bucket with the query (by construction)
    sigs = {
        r["vec_id"]: r["__sig"]
        for r in _with_lsh_buckets(
            vectors, "embedding", n_tables=4, n_bits=4, dims=16, scale=1e6
        ).collect()
    }
    for r in top:
        assert any(a == b for a, b in zip(sigs[0], sigs[r["vec_id"]]))
    # partition-invariant: same rows at 1-way and 7-way partitioning
    base = sorted(
        (r["qid"], r["vec_id"], round(r["cos"], 9)) for r in top
    )
    for n in (1, 7):
        again = sorted(
            (r["qid"], r["vec_id"], round(r["cos"], 9))
            for r in lsh_ann_topk(
                vectors.repartition(n), q, k=3, n_tables=4, n_bits=4, dims=16
            ).collect()
        )
        assert again == base


def test_lsh_ann_candidates_subset_of_brute_force_order(spark, vectors):
    """LSH top-k scores must equal the exact cosine for the ids it
    returns (the approximation only drops candidates, never rescores)."""
    from lofar_bf_pulsar_scripts_spark.operators.similarity import lsh_ann_topk

    q = vectors.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = {
        (r["qid"], r["vec_id"]): r["cos"]
        for r in brute_force_topk(vectors, q, k=40).collect()
    }
    for r in lsh_ann_topk(vectors, q, k=5, n_tables=4, n_bits=4, dims=16).collect():
        assert abs(exact[(r["qid"], r["vec_id"])] - r["cos"]) < 1e-12


def test_chunk_documents_cover_and_overlap(spark):
    from lofar_bf_pulsar_scripts_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 toks
            (2, "a b c"),  # shorter than one window
            (3, ""),  # empty text -> one empty chunk
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0,3,6,9 -> lens 4,4,4,1
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [(r["chunk_start"], r["chunk_len"]) for r in c1] == [
        (0, 4), (3, 4), (6, 4), (9, 1)
    ]
    # overlap: chunk c and c+1 share chunk_tokens - stride = 1 token
    assert c1[0]["chunk_text"].split()[-1] == c1[1]["chunk_text"].split()[0]
    # coverage: union of [start, start+len) == [0, n)
    covered = set()
    for r in c1:
        covered |= set(range(r["chunk_start"], r["chunk_start"] + r["chunk_len"]))
    assert covered == set(range(10))
    # short and empty docs still produce exactly one chunk
    assert [(r["chunk_start"], r["chunk_len"]) for r in by_doc[2]] == [(0, 3)]
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_text"] == ""
    # NULL text behaves exactly like empty text (coalesce guard)
    nulls = spark.createDataFrame([(9, None)], "doc_id long, text string")
    nr = chunk_documents(nulls, chunk_tokens=4, stride=3).collect()
    assert [(r["chunk_idx"], r["chunk_len"], r["chunk_text"]) for r in nr] == [
        (0, 1, "")
    ]
    # bad params raise
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=0)
    # stride > chunk_tokens would leave uncovered token gaps
    with pytest.raises(ValueError, match="uncovered"):
        chunk_documents(docs, chunk_tokens=4, stride=5)


def test_wav_pcm_features_real_decode(spark):
    import struct
    import numpy as np
    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        wav_pcm_features,
    )

    rng = np.random.RandomState(3)
    samples = (rng.randint(-30000, 30000, 4096)).astype("<i2")
    data = samples.tobytes()
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    media = spark.createDataFrame(
        [(0, wav), (1, b"junk"), (2, wav[:50])],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in wav_pcm_features(media).collect()}
    s = samples.astype(np.int64)
    w = rows[0]
    assert w["n_samples"] == 4096
    assert w["peak"] == int(np.max(np.abs(s)))
    assert w["sum_sq"] == int(np.dot(s, s))
    assert w["zero_crossings"] == int(
        np.count_nonzero(np.signbit(s[1:]) != np.signbit(s[:-1]))
    )
    assert w["rms"] == pytest.approx(float(np.sqrt(np.dot(s, s) / 4096)))
    assert rows[1]["n_samples"] == 0 and rows[1]["rms"] is None
    # truncated-but-valid-header WAV decodes the bytes that exist
    assert rows[2]["n_samples"] == 3  # (50 - 44) // 2


def test_vocab_coverage_counts(spark):
    from lofar_bf_pulsar_scripts_spark.operators.text import vocab_coverage

    docs = spark.createDataFrame(
        [
            (1, "the the the cat"),   # 'the' x3 here + 2 below = 5 -> common@5
            (2, "the the zyx"),       # zyx appears once -> rare@2
            (3, "cat zyx"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_tokens"], r["n_rare"], r["n_common"])
        for r in vocab_coverage(
            docs, rare_below=2, common_at_least=5
        ).collect()
    }
    # corpus counts: the=5, cat=2, zyx=2 -> no token rare (<2); 'the' common
    assert rows[1] == (4, 0, 3)
    assert rows[2] == (3, 0, 2)
    assert rows[3] == (2, 0, 0)


def test_canonicalize_url_rules(spark):
    from lofar_bf_pulsar_scripts_spark.operators.web import canonicalize_url

    cases = [
        # scheme/host case + www + default port + fragment + tracking
        ("HTTPS://WWW.Ex.COM:443/A/B/?utm_source=x&id=3&gclid=z#f",
         "https://ex.com/A/B?id=3"),
        # http default port; non-default port kept; param order kept
        ("http://ex.com:80/p?b=2&a=1", "http://ex.com/p?b=2&a=1"),
        ("https://ex.com:8443/p", "https://ex.com:8443/p"),
        # empty path -> '/', root slash kept, all-slash path -> '/'
        ("https://Ex.com", "https://ex.com/"),
        ("https://ex.com/", "https://ex.com/"),
        ("https://ex.com//", "https://ex.com/"),
        ("https://ex.com///?utm_a=1", "https://ex.com/"),
        # only tracking params -> no '?'
        ("https://ex.com/x?utm_a=1&fbclid=2", "https://ex.com/x"),
        # path case preserved
        ("https://ex.com/CaseSensitive/Path", "https://ex.com/CaseSensitive/Path"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i int, url string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def _sign_lsh_reference(vec, n_tables, n_bits, dims, scale=1e6):
    """Plain-Python closed form of the sign-LSH buckets: the oracle's
    arithmetic, one correctly rounded double operation at a time."""
    import math

    out = []
    for t in range(n_tables):
        bucket = 0
        for b in range(n_bits):
            p = t * n_bits + b
            acc = 0
            for i in range(1, dims + 1):
                h = ((1 + p * dims + i) * 2654435761 % 2**32) / 2**32 - 0.5
                acc += math.floor(float(vec[i - 1]) * h * scale + 0.5)
            if acc > 0:
                bucket += 1 << b
        out.append(bucket)
    return out


@pytest.mark.parametrize("n_tables,n_bits,dims", [(4, 6, 64), (3, 5, 16)])
def test_sign_lsh_kernel_matches_closed_form(spark, n_tables, n_bits, dims):
    """The one sign-LSH kernel, run through its Arrow-batched corpus
    pass, equals the closed form on every well-formed vector, leaves
    out short, empty and NULL vectors, and does not depend on the
    partitioning."""
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        _with_lsh_buckets,
    )
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", F.slice("embedding", 1, dims).alias("embedding")
    )
    bad = spark.createDataFrame(
        [(-1, [0.5] * (dims - 1)), (-2, []), (-3, None)],
        "vec_id long, embedding array<float>",
    )
    want = {
        r["vec_id"]: _sign_lsh_reference(
            r["embedding"], n_tables, n_bits, dims
        )
        for r in emb.collect()
    }
    for n in (1, 7):
        got = {
            r["vec_id"]: list(r["__sig"])
            for r in _with_lsh_buckets(
                emb.union(bad).repartition(n), "embedding",
                n_tables, n_bits, dims, 1e6,
            ).collect()
        }
        assert got == want and len(got) == 500


def test_canonicalize_url_idempotent(spark):
    """canonicalize(canonicalize(u)) == canonicalize(u) over a grid of
    messy-URL combinations — the property that makes re-processing an
    already-normalized crawl a no-op."""
    from itertools import product

    from lofar_bf_pulsar_scripts_spark.operators.web import canonicalize_url

    urls = []
    for scheme, www, port, path, query, frag in product(
        ["http", "HTTPS", "ftp"],
        ["", "www.", "WWW."],
        ["", ":443", ":80", ":8080"],
        ["", "/", "/A/b", "/A/b/", "/x//"],
        ["", "?utm_x=1", "?a=1&utm_y=2&b=3", "?utm_a=1&gclid=2"],
        ["", "#Frag"],
    ):
        urls.append(f"{scheme}://{www}Host.EX{port}{path}{query}{frag}")
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    )
    once = df.select("i", canonicalize_url(F.col("url")).alias("c"))
    twice = once.select("i", canonicalize_url(F.col("c")).alias("c2"))
    joined = once.join(twice, on="i")
    bad = joined.filter(F.col("c") != F.col("c2")).collect()
    assert not bad, bad[:5]


def test_lsh_ann_topk_null_vectors_excluded(spark, vectors):
    from lofar_bf_pulsar_scripts_spark.operators.similarity import lsh_ann_topk

    with_nulls = vectors.union(
        spark.createDataFrame(
            [(100, None), (101, None)], "vec_id long, embedding array<float>"
        )
    )
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    top = lsh_ann_topk(
        with_nulls, q, k=40, n_tables=4, n_bits=4, dims=16
    ).collect()
    assert top and all(r["vec_id"] < 100 for r in top)


def test_chunk_documents_coverage_property_grid(spark):
    """For every (chunk_tokens, stride) combo: chunks exactly cover
    [0, n), consecutive chunks overlap by chunk_tokens - stride (when
    both are full), and reassembling non-overlap regions reproduces
    the token stream."""
    from lofar_bf_pulsar_scripts_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (n, " ".join(f"t{i}" for i in range(n)))
            for n in (1, 2, 5, 24, 31, 32, 33, 97)
        ],
        "doc_id long, text string",
    )
    for ct, st in [(8, 8), (8, 5), (32, 24), (5, 1), (3, 2)]:
        rows = chunk_documents(docs, chunk_tokens=ct, stride=st).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for n, chunks in by_doc.items():
            chunks.sort(key=lambda r: r["chunk_idx"])
            covered = set()
            for j, r in enumerate(chunks):
                assert r["chunk_start"] == j * st
                assert r["chunk_len"] == min(ct, n - r["chunk_start"])
                covered |= set(
                    range(r["chunk_start"], r["chunk_start"] + r["chunk_len"])
                )
            assert covered == set(range(n)), (n, ct, st)
            # stride-aligned reassembly: first `st` tokens of each full
            # chunk, plus the tail chunk, rebuild the doc
            rebuilt = []
            for j, r in enumerate(chunks):
                toks = r["chunk_text"].split() if r["chunk_text"] else []
                if j < len(chunks) - 1:
                    rebuilt.extend(toks[:st])
                else:
                    rebuilt.extend(toks)
            assert rebuilt == [f"t{i}" for i in range(n)], (n, ct, st)


def test_image_metadata_jvm_parse(spark):
    import struct
    import zlib

    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        image_metadata,
    )

    # minimal real PNG: signature + IHDR(13 bytes) with CRC
    ihdr = struct.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0)
    png = (
        bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    # minimal BMP: 14-byte file header + BITMAPINFOHEADER
    bmp = (
        b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 320, 200, 1, 24, 0, 16, 0, 0, 0, 0)
    )
    media = spark.createDataFrame(
        [(0, png), (1, bmp), (2, b"plain text")],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in image_metadata(media).collect()}
    assert rows[0]["format"] == "png"
    assert (rows[0]["width"], rows[0]["height"], rows[0]["bit_depth"]) == (
        640, 480, 8
    )
    assert rows[1]["format"] == "bmp"
    assert (rows[1]["width"], rows[1]["height"], rows[1]["bit_depth"]) == (
        320, 200, 24
    )
    assert rows[2]["format"] == "unknown" and rows[2]["width"] is None


def test_ann_recall_lsh_vs_exact(spark, vectors):
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        ann_recall,
        lsh_ann_topk,
    )

    q = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = brute_force_topk(vectors, q, k=5)
    approx = lsh_ann_topk(vectors, q, k=5, n_tables=4, n_bits=4, dims=16)
    rec = {r["qid"]: r["recall"] for r in ann_recall(approx, exact, 5).collect()}
    assert set(rec) == {0, 1, 2}
    assert all(0.0 <= v <= 1.0 for v in rec.values())
    # query 0 has a planted near-identical neighbor: sign-LSH keeps it
    assert rec[0] >= 0.2
    # recall of the exact result against itself is 1.0
    self_rec = ann_recall(exact, exact, 5).collect()
    assert all(r["recall"] == 1.0 for r in self_rec)


def test_vocab_coverage_user_vocab_oov(spark):
    """With a user-supplied vocab, OOV tokens count as maximally rare
    instead of being dropped (left-join semantics)."""
    from lofar_bf_pulsar_scripts_spark.operators.text import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "known zzqx vvbn")], "doc_id long, text string"
    )
    vocab = spark.createDataFrame([("known", 500)], "tok string, cnt long")
    r = vocab_coverage(
        docs, vocab=vocab, rare_below=2, common_at_least=100
    ).collect()
    assert [(x["doc_id"], x["n_tokens"], x["n_rare"], x["n_common"])
            for x in r] == [(1, 3, 2, 1)]
    # fully-OOV doc still appears
    docs2 = spark.createDataFrame([(2, "zz qq")], "doc_id long, text string")
    r2 = vocab_coverage(docs2, vocab=vocab, rare_below=2).collect()
    assert [(x["doc_id"], x["n_tokens"], x["n_rare"]) for x in r2] == [(2, 2, 2)]


def test_wav_pcm_features_rejects_non_16bit_pcm(spark):
    import struct
    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        wav_pcm_features,
    )

    def wav(fmt, bits, data):
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, fmt, 1, 16000,
                                    16000 * bits // 8, bits // 8, bits)
            + b"data" + struct.pack("<I", len(data)) + data
        )
    media = spark.createDataFrame(
        [
            (0, wav(1, 8, b"\x80" * 100)),    # 8-bit PCM
            (1, wav(3, 32, b"\x00" * 128)),   # IEEE float
            (2, wav(1, 16, struct.pack("<4h", 1, -2, 3, -4))),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in wav_pcm_features(media).collect()}
    assert rows[0]["n_samples"] == 0 and rows[0]["rms"] is None
    assert rows[1]["n_samples"] == 0
    assert rows[2]["n_samples"] == 4 and rows[2]["peak"] == 4


def test_salted_join_rejects_dim_preserving_how(spark):
    from lofar_bf_pulsar_scripts_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, 10)], "k long, id long")
    dim = spark.createDataFrame([(1, "a")], "k long, tag string")
    with pytest.raises(ValueError, match="fact-preserving"):
        salted_join(fact, dim, on="k", salt_by="id", how="full")


def test_key_skew_report_empty_input_explicit_zeros(spark):
    from lofar_bf_pulsar_scripts_spark.operators.skew import key_skew_report

    empty = spark.createDataFrame([], "k string, id long")
    r = key_skew_report(empty, "k").first()
    assert r["n_rows"] == 0 and r["n_keys"] == 0
    assert r["mean_count"] == 0 and r["hot_share_ppm"] == 0
    assert r["max_count"] is None and r["min_count"] is None


def test_image_metadata_rejects_core_header_and_topdown(spark):
    import struct
    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        image_metadata,
    )

    core = (  # OS/2 BITMAPCOREHEADER: DIB size 12, int16 fields
        b"BM" + struct.pack("<IHHI", 40, 0, 0, 26)
        + struct.pack("<IHHHH", 12, 100, 50, 1, 24) + b"\0" * 10
    )
    topdown = (  # negative height = top-down row order
        b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 320, -200, 1, 24, 0, 16, 0, 0, 0, 0)
    )
    media = spark.createDataFrame(
        [(0, core), (1, topdown)], "media_id long, payload binary"
    )
    rows = {r["media_id"]: r for r in image_metadata(media).collect()}
    assert rows[0]["format"] == "unknown" and rows[0]["width"] is None
    assert rows[1]["format"] == "bmp"
    assert (rows[1]["width"], rows[1]["height"]) == (320, -200)


def test_image_metadata_rejects_png_without_ihdr_first(spark):
    import struct
    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        image_metadata,
    )

    sig = bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])
    # nonstandard first chunk: the fixed-offset field decode would
    # return confident garbage — must classify unknown
    bogus = sig + struct.pack(">I", 13) + b"tEXt" + b"\0" * 17
    media = spark.createDataFrame(
        [(0, bogus)], "media_id long, payload binary"
    )
    r = image_metadata(media).collect()[0]
    assert r["format"] == "unknown" and r["width"] is None


def test_lsh_ann_topk_malformed_vectors_excluded(spark, vectors):
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        _with_lsh_buckets,
        lsh_ann_topk,
    )

    bad = spark.createDataFrame(
        [(200, []), (201, [0.5] * 3)], "vec_id long, embedding array<float>"
    )
    with_bad = vectors.union(bad)
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    top = lsh_ann_topk(
        with_bad, q, k=40, n_tables=4, n_bits=4, dims=16
    ).collect()
    assert top and all(r["vec_id"] < 200 for r in top)
    # the kernel's corpus pass (the at-rest store's builder too)
    # leaves them out
    ids = {
        r["vec_id"]
        for r in _with_lsh_buckets(
            with_bad, "embedding", n_tables=4, n_bits=4, dims=16, scale=1e6
        ).collect()
    }
    assert 200 not in ids and 201 not in ids
    # a malformed QUERY vector is excluded too (it would otherwise
    # hash to bucket 0 everywhere and return k NULL-cosine rows)
    bad_q = spark.createDataFrame(
        [(900, [0.5] * 3), (901, None)],
        "qid long, embedding array<float>",
    )
    assert (
        lsh_ann_topk(vectors, bad_q, k=5, n_tables=4, n_bits=4, dims=16)
        .count() == 0
    )


def test_resize_raw_gray_nearest_neighbor(spark):
    import numpy as np

    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        resize_raw_gray,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (10, 8), dtype=np.uint8)  # h=10, w=8
    media = spark.createDataFrame(
        [
            (0, img.tobytes(), 8, 10),
            (1, b"short", 8, 10),       # malformed buffer
            (2, None, 8, 10),
        ],
        "media_id long, payload binary, width int, height int",
    )
    rows = {r["media_id"]: r for r in resize_raw_gray(media, 4, 5).collect()}
    got = np.frombuffer(rows[0]["pixels"], dtype=np.uint8).reshape(5, 4)
    ys = np.minimum(((np.arange(5) + 0.5) * 10 / 5).astype(int), 9)
    xs = np.minimum(((np.arange(4) + 0.5) * 8 / 4).astype(int), 7)
    assert (got == img[np.ix_(ys, xs)]).all()
    # upscale also works (nearest repeats pixels)
    up = {r["media_id"]: r for r in resize_raw_gray(media, 16, 20).collect()}
    big = np.frombuffer(up[0]["pixels"], dtype=np.uint8).reshape(20, 16)
    assert big.shape == (20, 16) and set(big.ravel()) <= set(img.ravel())
    assert rows[1]["pixels"] is None and rows[2]["pixels"] is None
    # NULL width arrives in pandas as NaN (nullable int -> float64):
    # must yield NULL pixels, not crash the stage
    nullw = spark.createDataFrame(
        [(7, img.tobytes(), None, 10), (8, img.tobytes(), 8, 10)],
        "media_id long, payload binary, width int, height int",
    )
    nw = {r["media_id"]: r for r in resize_raw_gray(nullw, 4, 5).collect()}
    assert nw[7]["pixels"] is None and nw[8]["pixels"] is not None
    with pytest.raises(ValueError):
        resize_raw_gray(media, 0, 5)


def test_jpeg_dimensions_marker_walk(spark):
    import struct

    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        jpeg_dimensions,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    sof0 = struct.pack(">BHHB", 8, 480, 640, 3) + b"\x01\x11\x00" * 3
    jpeg = (
        b"\xff\xd8"                              # SOI
        + seg(0xE0, b"JFIF\x00" + b"\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, b"\x00" + bytes(64))         # DQT
        + seg(0xC0, sof0)                        # SOF0 baseline
        + seg(0xDA, b"\x01\x01\x00")             # SOS
        + b"\x12\x34" + b"\xff\xd9"
    )
    progressive = (
        b"\xff\xd8" + seg(0xC2, struct.pack(">BHHB", 8, 100, 200, 1)
                          + b"\x01\x11\x00")
        + seg(0xDA, b"\x01\x01\x00")
    )
    sos_first = b"\xff\xd8" + seg(0xDA, b"\x01\x01\x00")
    media = spark.createDataFrame(
        [(0, jpeg), (1, progressive), (2, sos_first), (3, b"notjpeg"),
         (4, None)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in jpeg_dimensions(media).collect()}
    assert rows[0]["is_jpeg"] and (rows[0]["width"], rows[0]["height"],
                                   rows[0]["n_components"]) == (640, 480, 3)
    assert rows[1]["is_jpeg"] and (rows[1]["width"], rows[1]["height"]) == (
        200, 100)
    assert not rows[2]["is_jpeg"] and rows[2]["width"] is None
    assert not rows[3]["is_jpeg"] and not rows[4]["is_jpeg"]


def test_mp4_metadata_box_walk(spark):
    import struct

    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        mp4_metadata,
    )

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    mvhd_v0 = box(
        b"mvhd",
        bytes([0]) + b"\x00\x00\x00"          # version 0 + flags
        + struct.pack(">II", 0, 0)            # ctime, mtime
        + struct.pack(">II", 1000, 45_500)    # timescale, duration
        + b"\x00" * 80,
    )
    trak = box(b"trak", b"\x00" * 16)
    moov = box(b"moov", mvhd_v0 + trak + trak)
    mp4 = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isomavc1") \
        + box(b"mdat", b"\x00" * 64) + moov
    media = spark.createDataFrame(
        [(0, mp4), (1, b"RIFFxxxxWAVE" + b"\0" * 40), (2, None)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in mp4_metadata(media).collect()}
    m = rows[0]
    assert m["is_mp4"] and m["major_brand"] == "isom"
    assert m["timescale"] == 1000 and m["duration"] == 45_500
    assert m["duration_s"] == pytest.approx(45.5)
    assert m["n_tracks"] == 2
    assert not rows[1]["is_mp4"] and rows[1]["n_tracks"] is None
    assert not rows[2]["is_mp4"]
    # 64-bit largesize + v1 mvhd variant
    mvhd_v1 = box(
        b"mvhd",
        bytes([1]) + b"\x00\x00\x00"
        + struct.pack(">QQ", 0, 0)
        + struct.pack(">IQ", 600, 1200)
        + b"\x00" * 80,
    )
    big_moov_body = mvhd_v1
    large = (
        struct.pack(">I", 1) + b"moov"
        + struct.pack(">Q", 16 + len(big_moov_body)) + big_moov_body
    )
    mp4b = box(b"ftyp", b"mp42" + b"\x00" * 8) + large
    r2 = mp4_metadata(
        spark.createDataFrame([(9, mp4b)], "media_id long, payload binary")
    ).collect()[0]
    assert r2["is_mp4"] and r2["timescale"] == 600 and r2["duration"] == 1200
    assert r2["duration_s"] == pytest.approx(2.0)


def test_mp4_chunk_offsets_from_stco(spark):
    import struct

    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        mp4_chunk_offsets,
    )

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    def track(offsets, co64=False):
        if co64:
            stco = box(b"co64", struct.pack(">II", 0, len(offsets))
                       + b"".join(struct.pack(">Q", o) for o in offsets))
        else:
            stco = box(b"stco", struct.pack(">II", 0, len(offsets))
                       + b"".join(struct.pack(">I", o) for o in offsets))
        return box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stco))))

    moov = box(b"moov", track([100, 200, 300]) + track([5_000_000_000],
                                                       co64=True))
    mp4 = box(b"ftyp", b"isom" + b"\x00" * 8) + moov
    media = spark.createDataFrame(
        [(0, mp4), (1, b"not a video")], "media_id long, payload binary"
    )
    rows = sorted(
        (r["media_id"], r["track_idx"], r["chunk_idx"], r["byte_offset"])
        for r in mp4_chunk_offsets(media).collect()
    )
    assert rows == [
        (0, 0, 0, 100), (0, 0, 1, 200), (0, 0, 2, 300),
        (0, 1, 0, 5_000_000_000),
    ]
    # cap respected
    capped = mp4_chunk_offsets(media, max_chunks_per_track=2).collect()
    assert sum(1 for r in capped if r["track_idx"] == 0) == 2


def test_mp4_sentinels_and_corrupt_boxes(spark):
    import struct

    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        mp4_chunk_offsets,
        mp4_metadata,
    )

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    # v0 unknown-duration sentinel -> NULL duration, still is_mp4
    mvhd_unknown = box(
        b"mvhd",
        bytes([0]) + b"\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", 1000, 0xFFFFFFFF) + b"\x00" * 80,
    )
    mp4u = box(b"ftyp", b"isom" + b"\x00" * 8) + box(b"moov", mvhd_unknown)
    # corrupt largesize (1..15) must stop the walk, not re-parse noise
    corrupt = (
        box(b"ftyp", b"isom" + b"\x00" * 8)
        + struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 10) + b"\xff" * 64
    )
    # co64 offset beyond int63 is skipped, not a crash
    co64 = box(b"co64", struct.pack(">II", 0, 2)
               + struct.pack(">Q", 1 << 63) + struct.pack(">Q", 77))
    trak = box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", co64))))
    # a trak WITHOUT stbl still consumes a track index
    empty_trak = box(b"trak", b"\x00" * 8)
    mp4c = box(b"ftyp", b"isom" + b"\x00" * 8) + box(
        b"moov", empty_trak + trak
    )
    media = spark.createDataFrame(
        [(0, mp4u), (1, corrupt), (2, mp4c)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in mp4_metadata(media).collect()}
    assert rows[0]["is_mp4"] and rows[0]["duration"] is None
    assert rows[0]["duration_s"] is None and rows[0]["timescale"] == 1000
    assert rows[1]["is_mp4"] and rows[1]["n_tracks"] == 0  # walk stopped
    offs = [
        (r["track_idx"], r["chunk_idx"], r["byte_offset"])
        for r in mp4_chunk_offsets(media).collect()
    ]
    # only the valid offset survives, attributed to trak ordinal 1
    assert offs == [(1, 0, 77)]


def test_rrf_fuse_hand_case(spark):
    from lofar_bf_pulsar_scripts_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(12, 1), (10, 2), (13, 3)], "doc_id long, rank int"
    )
    rows = rrf_fuse([a, b], top_k=4).collect()
    got = {r["doc_id"]: (r["rrf_x1e6"], r["n_lists"]) for r in rows}
    c = lambda r: 1_000_000 // (60 + r)  # noqa: E731
    assert got[10] == (c(1) + c(2), 2)
    assert got[12] == (c(3) + c(1), 2)
    assert got[11] == (c(2), 1)
    assert got[13] == (c(3), 1)
    # doc in both lists outranks the single-list docs; ties by id
    order = [r["doc_id"] for r in rows]
    assert order[0] == 10 and order[1] == 12
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_near_dedup_pipeline_drops_verified_only(spark):
    """LSH candidates that fail exact-Jaccard verification are NOT
    dropped; genuine near-dups collapse to the min-id doc."""
    from lofar_bf_pulsar_scripts_spark.operators.dedup import (
        near_dedup_stats,
        verified_near_dup_edges,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (0, "s", base),
            (1, "s", base),                      # exact dup of 0
            (2, "s", base + " lambda"),          # near-dup of 0/1
            (3, "s", "totally different words here about other things"),
        ],
        "doc_id long, source string, text string",
    )
    edges = {
        (r["id_a"], r["id_b"])
        for r in verified_near_dup_edges(docs, tau_num=5, tau_den=10).collect()
    }
    assert (0, 1) in edges  # exact dup always verifies
    assert all(3 not in e for e in edges)  # unrelated doc never linked
    stats = near_dedup_stats(docs, tau_num=5, tau_den=10).first()
    assert stats["n_docs"] == 4
    # doc 0 is the kept representative of its cluster
    assert stats["n_dropped"] >= 1
    assert stats["n_kept"] == 4 - stats["n_dropped"]


def test_training_data_pipeline_hand_funnel(spark):
    """Every stage of the funnel exercised by one hand-built corpus:
    a quality-fail doc, a near-dup pair (min-id kept), a doc that is
    a verbatim copy of the held-out benchmark doc (contaminated),
    and a clean doc — per-source counts land exactly."""
    from lofar_bf_pulsar_scripts_spark.plans.datapipe import (
        training_data_stats,
    )

    words = lambda pre, n: " ".join(f"{pre}{i:02d}" for i in range(n))  # noqa: E731
    bench_text = words("bw", 60)
    near = words("nd", 60)
    docs = spark.createDataFrame(
        [
            (0, "s", bench_text),             # benchmark (0 % 97 == 0)
            (1, "s", words("cl", 60)),        # clean
            (2, "s", near),                   # near-dup pair, kept
            (3, "s", near + " extraword"),    # near-dup pair, dropped
            (4, "s", bench_text),             # contaminated (copy of bench)
            (5, "s", words("sh", 10)),        # quality fail (< 50 words)
        ],
        "doc_id long, source string, text string",
    )
    row = training_data_stats(
        docs, [("b", "w")],
        quality_rules=(
            "r_word_count", "r_mean_word_len", "r_symbol_ratio",
            "r_alpha_words", "r_bullet_lines", "r_ellipsis_lines",
        ),
    ).first()
    assert row["source"] == "s"
    assert row["n_input"] == 5
    assert row["n_fail_quality"] == 1
    assert row["n_dup_dropped"] == 1
    assert row["n_contaminated"] == 1
    assert row["n_kept"] == 2
    assert row["bpe_tokens"] > 0
    # both kept docs are under the pack bound and fit one window each
    assert row["packed_docs"] == 2
    assert row["packed_tokens"] == row["bpe_tokens"]
    assert 1 <= row["n_packs"] <= 2


def test_incremental_near_dup_hand_case(spark, tmp_path):
    """Batch probe against an at-rest band store: an exact re-crawl
    verifies against its original AND a 3/5-Jaccard neighbor; a novel
    doc comes back (n_dups 0, min_dup_id -1)."""
    from lofar_bf_pulsar_scripts_spark.operators.dedup import (
        incremental_near_dup,
    )
    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        ensure_minhash_bands,
    )

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e g"),   # J(1,2) = 3/5 >= 5/10
            (3, "x y z w q r"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "bands")
    ensure_minhash_bands(corpus, store)
    batch = spark.createDataFrame(
        [
            (10, "a b c d e f"),  # exact text of doc 1
            (11, "totally novel words appear here now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["new_id"]: (r["n_dups"], r["min_dup_id"])
        for r in incremental_near_dup(
            batch, corpus, spark.read.parquet(store),
            tau_num=5, tau_den=10,
        ).collect()
    }
    # doc 10: J(10,1)=1 verifies; J(10,2)=3/5 verifies IF LSH banding
    # put them in a shared bucket (identical sig slices for >= 1 of 4
    # bands is likely but not guaranteed at J=0.6) — assert at least
    # the exact dup, and min over whatever verified
    assert got[10][0] >= 1 and got[10][1] == 1
    assert got[11] == (0, -1)
    # ensure_minhash_bands is first-build-wins: a second call must not
    # rebuild (the _SUCCESS marker short-circuits)
    import os

    mtime = os.path.getmtime(os.path.join(store, "_SUCCESS"))
    ensure_minhash_bands(corpus, store)
    assert os.path.getmtime(os.path.join(store, "_SUCCESS")) == mtime


def test_quality_linear_score_hand_case(spark):
    from lofar_bf_pulsar_scripts_spark.operators.text import (
        QUALITY_WEIGHTS_PER_MILLE as W,
        quality_linear_score,
    )

    # 60 clean words incl. stopwords 'the'/'and' -> all ratios exact
    text = " ".join(["the quick brown fox and dog jumps"] * 10) + " extra word"
    # 72 words: recount -> 7*10+2 = 72
    docs = spark.createDataFrame(
        [(1, text), (2, None), (3, "### ... ###")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_linear_score(docs).collect()}
    r1 = rows[1]
    n_words = 72
    f_alpha = 1_000_000 * 72 // n_words      # every word alphabetic
    # n_stopwords counts DISTINCT required stopwords present (the
    # Gopher "contains >= 2 of the required set" feature): the, and
    f_stop = 1_000_000 * 2 // n_words
    expect = (
        W["bias_x1e6"]
        + W["alpha_ratio"] * f_alpha // 1000
        + W["stopword_ratio"] * f_stop // 1000
        + W["length_bonus_x1e6"]               # 50 <= 72 <= 100000
    )
    assert r1["score_x1e6"] == expect and r1["keep"]
    # NULL text: one '' token, nothing alphabetic, no bonus -> low
    assert rows[2]["score_x1e6"] == W["bias_x1e6"] and not rows[2]["keep"]
    # symbol soup: penalty drives the score DOWN from the bias
    assert rows[3]["score_x1e6"] < W["bias_x1e6"] and not rows[3]["keep"]


# --------------------------------------------------------------------
# Perceptual hash (dHash) + banded-Hamming near-dup
# --------------------------------------------------------------------


def test_dhash_fixed_offsets_hand_case():
    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        dhash_fixed_offsets,
    )

    offs = dhash_fixed_offsets(16, 16, 8, 8)
    assert len(offs) == 64
    # ys[i] = floor((2i+1)*16/16) = 2i+1; xs = [0,2,4,6,8,9,11,13,15]
    # bit 0 compares (row 1, col 0) vs (row 1, col 2)
    assert offs[0] == (0, 16, 18)
    # bit 7 compares (row 1, col 13) vs (row 1, col 15)
    assert offs[7] == (7, 16 + 13, 16 + 15)
    # last bit: row ys[7]=15
    assert offs[63] == (63, 15 * 16 + 13, 15 * 16 + 15)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dhash_fixed_offsets(8, 8, 8, 8)  # src narrower than hash_w+1


def test_dhash_column_path_matches_numpy_resize(spark):
    """The fixed-offset column algebra IS the nearest-neighbor resize
    + adjacent comparison: both paths on the same random rasters."""
    import random

    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        dhash_band_exprs,
        dhash_gray,
    )
    from pyspark.sql import functions as F

    rng = random.Random(11)
    rasters = [
        "".join(chr(32 + rng.randrange(95)) for _ in range(256))
        for _ in range(20)
    ]
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rasters)], "media_id long, s string"
    )
    exprs = dhash_band_exprs("s", 16, 16, n_bands=4)
    cols = {
        r["media_id"]: [r[f"b{i}"] for i in range(4)]
        for r in df.select(
            "media_id",
            *[F.expr(e).cast("long").alias(f"b{i}") for i, e in enumerate(exprs)],
        ).collect()
    }
    raw = spark.createDataFrame(
        [
            (i, bytearray(r.encode("ascii")), 16, 16)
            for i, r in enumerate(rasters)
        ],
        "media_id long, payload binary, width int, height int",
    )
    bits = {
        r["media_id"]: r["dhash_bits"]
        for r in dhash_gray(raw).collect()
    }
    for mid, bands in cols.items():
        got = bits[mid]
        assert got is not None and len(got) == 64
        for b in range(4):
            want = sum(got[b * 16 + k] << k for k in range(16))
            assert bands[b] == want, (mid, b)


def test_dhash_stretch_resample_semantics(spark):
    """Stretch mode == fixed mode on the Python-stretched raster: for
    any string s, the stretched-band exprs over s equal the fixed-
    offset exprs over ''.join(s[o*len//256] for o in range(256)); a
    string of length exactly 256 is the identity (both modes agree on
    the raw string).  This pins floor(o*len/npix) cross-engine."""
    import random

    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        dhash_band_exprs,
    )
    from pyspark.sql import functions as F

    rng = random.Random(23)
    texts = [
        "".join(chr(32 + rng.randrange(95)) for _ in range(n))
        for n in (1, 7, 44, 100, 255, 256, 300, 577)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    stretched = dhash_band_exprs(
        "text", 16, 16, n_bands=4,
        stretch_len_expr="greatest(length(text), 1)",
    )
    got = {
        r["doc_id"]: [r[f"b{i}"] for i in range(4)]
        for r in df.select(
            "doc_id",
            *[F.expr(e).alias(f"b{i}") for i, e in enumerate(stretched)],
        ).collect()
    }
    fixed_exprs = dhash_band_exprs("text", 16, 16, n_bands=4)
    rasters = [
        (i, "".join(t[(o * len(t)) // 256] for o in range(256)))
        for i, t in enumerate(texts)
    ]
    want = {
        r["doc_id"]: [r[f"b{i}"] for i in range(4)]
        for r in spark.createDataFrame(
            rasters, "doc_id long, text string"
        ).select(
            "doc_id",
            *[F.expr(e).alias(f"b{i}") for i, e in enumerate(fixed_exprs)],
        ).collect()
    }
    assert got == want
    # length == npix: stretch is the identity mapping
    assert rasters[5][1] == texts[5]


def test_phash_near_dup_banding_recall(spark):
    """A pair within max_dist flipped SAMPLED bytes must be found
    (pigeonhole over 4 bands); editing only non-sampled bytes gives
    distance 0."""
    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        dhash_fixed_offsets,
        phash_near_dup_pairs,
    )

    base = "".join(chr(65 + (i * 7) % 26) for i in range(256))
    offs = dhash_fixed_offsets(16, 16, 8, 8)
    sampled = sorted({o for _, a, b in offs for o in (a, b)})
    unsampled = [i for i in range(256) if i not in sampled]
    # flip exactly 3 bits in 3 DIFFERENT bands: the FIRST comparison
    # of a row (bit 8i) is the only one reading the row's col-0 byte,
    # so changing that single byte flips just that bit (other bytes
    # chain into two comparisons)
    mutated = list(base)
    for bit_idx in (0, 24, 48):  # rows 0/3/6 -> bands 0/1/3
        _, a, b = offs[bit_idx]
        mutated[a] = "~" if base[a] <= base[b] else " "
    near = "".join(mutated)
    # touch only unsampled positions: hash identical
    clone = list(base)
    for i in unsampled[:10]:
        clone[i] = "#"
    clone = "".join(clone)
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, clone)], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming_dist"]
        for r in phash_near_dup_pairs(df, "doc_id", "text").collect()
    }
    assert pairs[(1, 3)] == 0
    assert (1, 2) in pairs and 1 <= pairs[(1, 2)] <= 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        phash_near_dup_pairs(df, "doc_id", "text", max_dist=4, n_bands=4)


def test_phash_near_dup_keeps_one_hash_proxy_cached(spark):
    """Each call persists its hash proxy (DISK_ONLY); a call on a new
    input releases the previous call's, so repeated calls never pile
    up corpus-sized disk caches, and a repeat on the same input reuses
    its cache."""
    from pyspark.sql import functions as F

    from lofar_bf_pulsar_scripts_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    a = spark.createDataFrame(
        [(i, f"doc {i % 7} " * (3 + i % 5)) for i in range(40)],
        "doc_id long, text string",
    )
    b = a.withColumn("text", F.upper("text"))
    want = sorted(phash_near_dup_pairs(a, "doc_id", "text").collect())
    assert want
    after_first = persisted()
    phash_near_dup_pairs(b, "doc_id", "text").collect()
    assert persisted() == after_first
    for _ in range(2):
        got = phash_near_dup_pairs(a, "doc_id", "text").collect()
        assert sorted(got) == want
        assert persisted() == after_first
