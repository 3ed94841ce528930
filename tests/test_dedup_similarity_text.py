"""Training-data pipeline operators: dedup family, ANN, text analysis,
multimodal plumbing — over the driver testdata tables + synthetic cases."""

import os
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_drift_monitoring_spark.operators import dedup as D
from data_drift_monitoring_spark.operators import similarity as S
from data_drift_monitoring_spark.operators import text_analysis as TA
from data_drift_monitoring_spark.operators import multimodal as MM

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick  brown fox jumps over the lazy dog"),  # ws/case dup
        (3, "the quick brown fox jumps over the lazy cat"),   # near dup
        (4, "completely different content about spark engines"),
        (5, "totally unrelated text regarding database systems"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates_normalized(spark, dup_docs):
    groups = D.exact_duplicates(dup_docs, "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["members"] == [1, 2]
    kept = D.dedup_exact_content(dup_docs, "doc_id").select("doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 3, 4, 5]


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    pairs = D.minhash_lsh_duplicates(
        dup_docs, "doc_id", threshold=0.5, num_hashes=64, bands=32
    ).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    assert (1, 2) in found           # exact dup → jaccard 1
    assert (1, 3) in found or (2, 3) in found  # near dup shares most shingles
    assert all({a, b} & {4, 5} == set() or (a, b) == (4, 5) for a, b in found)
    # est_jaccard of the exact pair is 1.0
    exact = [r for r in pairs if (r["a"], r["b"]) == (1, 2)][0]
    assert exact["est_jaccard"] == 1.0


def test_ngram_jaccard_verification(spark, dup_docs):
    cand = D.minhash_lsh_duplicates(dup_docs, "doc_id", threshold=0.3)
    verified = {
        (r["a"], r["b"]): r["jaccard"]
        for r in D.ngram_jaccard(dup_docs, cand, "doc_id").collect()
    }
    assert verified[(1, 2)] == 1.0
    if (1, 3) in verified:
        assert 0.3 < verified[(1, 3)] < 1.0


def test_simhash_collision_groups(spark, dup_docs):
    groups = D.simhash_duplicates(dup_docs, "doc_id").collect()
    assert any(g["members"] == [1, 2] for g in groups)


def test_simhash_hamming_finds_what_hamming0_misses(spark):
    """Planted near-identical word multisets: one word swapped in a
    100-word doc flips only a few signature bits — Hamming-0 grouping
    misses the pair, d≤k band matching must find it."""
    base = " ".join(f"word{i % 37}" for i in range(100))
    variant = base.replace("word5", "wordX", 1)
    far = " ".join(f"other{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, variant), (4, far)], "doc_id long, text string"
    )
    # the planted pair's actual distance (signature is data-dependent)
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash(df, "text").select("doc_id", "simhash").collect()
    }
    d13 = bin((sigs[1] ^ sigs[3]) & (2**64 - 1)).count("1")
    assert 0 < d13 <= 12
    ham0 = D.simhash_duplicates(df, "doc_id").collect()
    assert all(g["members"] == [1, 2] for g in ham0)  # (1,3) missed at d=0
    found = {
        (r["a"], r["b"]): r["hamming"]
        for r in D.simhash_hamming_duplicates(df, "doc_id", k=d13).collect()
    }
    assert found[(1, 3)] == d13 and found[(2, 3)] == d13
    assert found[(1, 2)] == 0
    assert not any({a, b} & {4} for a, b in found)


def test_simhash_hamming_band_parity_with_bruteforce(spark, docs):
    """Pigeonhole completeness on real data: the banded operator's pair
    set equals the exact all-pairs bit_count filter, for several k."""
    d = docs.limit(120)
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash(d, "text").select("doc_id", "simhash").collect()
    }
    import itertools

    for k in (2, 5, 9):
        exact = {
            (a, b): bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= k
        }
        got = {
            (r["a"], r["b"]): r["hamming"]
            for r in D.simhash_hamming_duplicates(d, "doc_id", k=k).collect()
        }
        assert got == exact


def test_minhash_arrow_and_expr_find_same_verified_pairs(spark, dup_docs):
    """The Arrow signature table's LSH-verified pairs must equal the
    brute-force answer of the exact n-gram Jaccard expression over ALL
    pairs (J ≥ 0.5) — 64 hashes / 32 bands miss a J = 0.5 pair with
    probability ≤ (1-J²)^32 ≈ 1e-4."""
    sigs = D.minhash_signature_table(dup_docs, "doc_id", "text", 64, 3)
    cand = D.lsh_candidate_pairs(sigs, "doc_id", 64, 32, estimate=False)
    ids = dup_docs.select("doc_id")
    all_pairs = ids.select(F.col("doc_id").alias("a")).crossJoin(
        ids.select(F.col("doc_id").alias("b"))
    ).filter(F.col("a") < F.col("b"))

    def verified(pairs):
        out = D.ngram_jaccard(dup_docs, pairs, "doc_id")
        return {
            (r["a"], r["b"], round(r["jaccard"], 6))
            for r in out.filter(F.col("jaccard") >= 0.5).collect()
        }

    brute = verified(all_pairs)
    assert brute == {(1, 2, 1.0), (1, 3, 0.75), (2, 3, 0.75)}
    assert verified(cand) == brute


def test_dedup_corpus_generator_truth(spark, tmp_path):
    """generate_dedup_corpus: planted truth matches the engine's own exact
    n-gram verification, ids are unique, kinds behave as documented."""
    from data_drift_monitoring_spark.generator import generate_dedup_corpus

    d = str(tmp_path / "corpus")
    stats = generate_dedup_corpus(d, n_docs=5000, num_partitions=2)
    docs = spark.read.parquet(d + "/docs")
    assert docs.count() == stats["n_docs"]
    assert docs.select("doc_id").distinct().count() == stats["n_docs"]
    truth = spark.read.parquet(d + "/truth.parquet")
    rows = truth.collect()
    assert {r["kind"] for r in rows} >= {"exact", "near", "border", "far"}
    assert all(r["jaccard"] == 1.0 for r in rows if r["kind"] == "exact")
    assert all(r["jaccard"] >= 0.5 for r in rows if r["kind"] == "near")
    assert all(r["jaccard"] < 0.3 for r in rows if r["kind"] == "far")
    # the generator's numpy trigram Jaccard == the operator's exact verify
    sample = truth.filter(F.col("kind").isin("near", "border")).limit(20)
    verified = {
        (r["a"], r["b"]): r["jaccard"]
        for r in D.ngram_jaccard(
            docs, sample.select("a", "b"), "doc_id"
        ).collect()
    }
    for r in sample.collect():
        assert abs(verified[(r["a"], r["b"])] - r["jaccard"]) < 1e-9


def test_minhash_on_real_documents(spark, docs):
    # the documents table is word-soup: no exact dups expected, operator
    # must still run end to end and return a well-formed frame
    out = D.minhash_lsh_duplicates(
        docs.limit(200), "doc_id", threshold=0.9, num_hashes=32, bands=8
    )
    assert out.columns == ["a", "b", "est_jaccard"]
    out.count()  # executes


def test_embedding_near_duplicates(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal(16).astype(float)
    rows = [
        (1, (base).tolist()),
        (2, (base * 1.001 + 1e-4).tolist()),   # near-identical direction
        (3, (-base).tolist()),                  # opposite
        (4, rng.standard_normal(16).tolist()),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = D.embedding_near_duplicates(df, threshold=0.99, planes=8, dim=16).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}


def test_bruteforce_topk_self_nearest(spark, embs):
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.cosine_topk_bruteforce(embs, queries, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) == 5
        top = min(rows, key=lambda r: r["rank"])
        assert top["vec_id"] == qid  # self is the nearest neighbor
        assert abs(top["cosine"] - 1.0) < 1e-6


def test_ivf_topk_mostly_agrees_with_bruteforce(spark, embs):
    cent = S.kmeans_centroids(embs, n_cells=8, iters=3)
    index = S.ivf_index(embs, cent)
    queries = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk_bruteforce(embs, queries, k=3).collect()
    approx = S.ivf_topk(index, queries, cent, k=3, nprobe=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    # recall@3 with nprobe=4/8 cells should be high; self always found
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 3 for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5
    for q in exact_sets:
        assert q in approx_sets.get(q, set())


def test_token_count_and_quality(spark, docs):
    out = TA.with_quality_score(TA.with_token_count(docs), "text").limit(50).collect()
    for r in out:
        assert r["n_words"] >= 1
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["stopword_frac"] <= 1.0


def test_stopword_count_regexp_equals_hof(spark):
    """The shipped regexp_count stopword counter must count EXACTLY like
    the per-word set-membership HOF it replaced (39x faster, same
    semantics) — adjacent stopwords sharing one delimiter, attached
    punctuation, repeated words, substring traps, empty/blank text."""
    from pyspark.sql import functions as F

    rows = [
        (1, "The the THE a and  of\tto in is it that for"),
        (2, "a.b the, and band sand a nd offer of"),
        (3, ""),
        (4, "   "),
        (5, "athe thea a a a"),
        (6, "of to a of to a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    hof = F.size(
        F.filter(F.split(norm, " "), lambda x: x.isin(*TA.STOPWORDS_EN))
    )
    got = {
        r["doc_id"]: (r["hof"], r["sf"])
        for r in TA.with_quality_score(df)
        .withColumn("hof", hof)
        .withColumn(
            "sf",
            F.round(
                hof / F.greatest(F.size(F.split(norm, " ")), F.lit(1)), 4
            ),
        )
        .collect()
    }
    out = {
        r["doc_id"]: r["stopword_frac"]
        for r in TA.with_quality_score(df).collect()
    }
    for k, (hof_hits, sf) in got.items():
        assert out[k] == sf, (k, out[k], sf, hof_hits)


def test_lang_id_markers(spark):
    rows = [
        (1, "the cat and the dog of the house"),
        (2, "el perro de la casa que ladra los dias"),
        (3, "der hund und die katze das ist gut"),
        (4, "你好 世界 这是 中文"),
        (5, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["lang_pred"] for r in TA.with_lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "zh", 5: "und"}


def test_lang_id_accuracy_on_planted_corpus(spark):
    """Accuracy floor on marker-bearing text: 140 docs (7 languages × 20),
    each mixing that language's markers with neutral filler at a realistic
    ~30% function-word density. The testdata documents table can't measure
    this — its lang labels are uncorrelated with its (English word-soup)
    text — so a planted corpus is the honest accuracy fixture."""
    import random

    rng = random.Random(11)
    filler = ["casa", "zug", "vector", "tree", "blau", "porta", "xylo"]
    rows, i = [], 0
    for lang, markers in sorted(TA.LANG_MARKERS.items()):
        for _ in range(20):
            words = [rng.choice(markers) for _ in range(6)] + [
                rng.choice(filler) for _ in range(14)
            ]
            rng.shuffle(words)
            rows.append((i, lang, " ".join(words)))
            i += 1
    df = spark.createDataFrame(rows, "id long, lang string, text string")
    got = TA.with_lang_id(df).collect()
    acc = sum(r["lang"] == r["lang_pred"] for r in got) / len(got)
    # nl/pt/es share 'de'/'que' etc.; a marker heuristic can confuse those
    # on short docs, hence a floor rather than exactness
    assert acc >= 0.9, f"planted-corpus accuracy {acc}"


def test_fingerprint_stability(spark, dup_docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in TA.with_fingerprint(dup_docs).collect()}
    assert fp[1] == fp[2]  # normalization-equal docs share fingerprint
    assert fp[1] != fp[3]


def test_corpus_summary(spark, docs):
    out = TA.corpus_summary(docs).collect()
    assert len(out) == docs.select("source").distinct().count()
    assert all(r["n_docs"] > 0 and r["total_words"] > 0 for r in out)


def test_multimodal_feature_plumbing(spark):
    media = MM.synth_media(spark, n=30)
    feats = MM.extract_features(media, dim=8, fake=True).collect()
    assert len(feats) == 30
    for r in feats:
        assert r["n_bytes"] == 128
        assert len(r["feature"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
    # determinism
    again = MM.extract_features(media, dim=8, fake=True).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_multimodal_frame_sampling(spark):
    media = MM.synth_media(spark, n=9)
    frames = MM.sample_frames(media, every_ms=250, fake=True).collect()
    vids = 3  # every 3rd is video
    assert len(frames) == vids * 4  # 1000ms / 250ms
    assert {r["frame_ts_ms"] for r in frames} == {0, 250, 500, 750}


def test_embedding_lsh_skew_guard_bounds_tasks(spark):
    """Adversarial all-similar fixture: every vector identical → one LSH
    bucket. The chunk-salting guard bounds the self-join at cap² per task;
    pairs are confined to chunks but every member still pairs with cap-1
    co-members (the documented recall bound)."""
    vec = [float(x) for x in range(1, 17)]
    rows = [(i, vec) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    guarded = D.embedding_near_duplicates(
        df, threshold=0.99, planes=8, dim=16, max_bucket_size=16
    ).collect()
    # census salt chunks the 60-row bucket into ceil(60/16)=4 hash chunks;
    # expected pairs = Σ C(n_i, 2) over the (deterministic) chunk sizes
    chunk_of = {
        r["k"]: r["s"]
        for r in df.select(F.col("vec_id").alias("k"))
        .withColumn("s", F.pmod(F.xxhash64("k"), F.lit(4)).cast("int"))
        .collect()
    }
    sizes = Counter(chunk_of.values()).values()
    assert len(guarded) == sum(n * (n - 1) // 2 for n in sizes)
    # every pair stays within its chunk, and every member of a chunk with
    # ≥2 rows is paired (connectivity inside chunks)
    assert all(chunk_of[r["a"]] == chunk_of[r["b"]] for r in guarded)
    covered = {r["a"] for r in guarded} | {r["b"] for r in guarded}
    assert covered == {k for k, s in chunk_of.items()
                       if sum(1 for v in chunk_of.values() if v == s) > 1}
    # the guard must not add a single-task window sort over the bucket
    plan = D.embedding_near_duplicates(
        df, threshold=0.99, planes=8, dim=16, max_bucket_size=16
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan

    unguarded = D.embedding_near_duplicates(
        df, threshold=0.99, planes=8, dim=16, max_bucket_size=None
    ).count()
    assert unguarded == 60 * 59 // 2


def test_minhash_bucket_salting_keeps_small_buckets_exact(spark, dup_docs):
    """cap smaller than any real bucket never changes results when buckets
    are under it; a cap of 1 degrades recall but still runs."""
    base = {
        (r["a"], r["b"])
        for r in D.minhash_lsh_duplicates(
            dup_docs, "doc_id", threshold=0.5, num_hashes=64, bands=32
        ).collect()
    }
    huge_cap = {
        (r["a"], r["b"])
        for r in D.minhash_lsh_duplicates(
            dup_docs, "doc_id", threshold=0.5, num_hashes=64, bands=32
        ).collect()
    }
    assert base == huge_cap and (1, 2) in base


# -- quantified approximation quality vs the in-repo exact baselines --------

SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def embs01(spark):
    return spark.read.parquet(f"{SF01}/embeddings.parquet")


def test_ivf_recall_quantified(spark, embs01):
    """IVF recall against the exact brute-force baseline at sf0.01 (the
    numbers recorded in COVERAGE.md): recall@3 ≥ 0.9 at nprobe=3/8 cells,
    and full probe reproduces the exact ranking identically."""
    cent = S.kmeans_centroids(embs01, n_cells=8, sample_fraction=0.5)
    index = S.ivf_index(embs01, cent)
    queries = embs01.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk_bruteforce(embs01, queries, k=3).select(
        "query_id", "rank", "vec_id"
    ).collect()
    ex_rows = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in exact)

    part = S.ivf_topk(index, queries, cent, k=3, nprobe=3).collect()
    ex_sets, ap_sets = {}, {}
    for q, _, v in ex_rows:
        ex_sets.setdefault(q, set()).add(v)
    for r in part:
        ap_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recall = sum(
        len(ex_sets[q] & ap_sets.get(q, set())) / 3 for q in ex_sets
    ) / len(ex_sets)
    assert recall >= 0.9

    full = S.ivf_topk(index, queries, cent, k=3, nprobe=8).select(
        "query_id", "rank", "vec_id"
    ).collect()
    assert sorted((r["query_id"], r["rank"], r["vec_id"]) for r in full) == ex_rows


def test_minhash_estimate_mae_vs_exact(spark):
    """MinHash est_jaccard vs exact n-gram Jaccard over the LSH candidate
    set at sf0.01: MAE ≤ 0.05 with 64 hashes (measured 0.025)."""
    d = spark.read.parquet(f"{SF01}/documents.parquet").filter(
        F.col("doc_id") < 300
    )
    sigs = D.minhash_signature_table(d, "doc_id", "text", 64, 3)
    cand = D.lsh_candidate_pairs(sigs, "doc_id", 64, 32)
    exact = D.ngram_jaccard(d, cand.select("a", "b"), "doc_id")
    rows = cand.join(exact, on=["a", "b"]).collect()
    errs = [abs(r["est_jaccard"] - r["jaccard"]) for r in rows]
    assert rows and sum(errs) / len(errs) <= 0.05
    assert max(errs) <= 0.12


def test_embedding_multi_table_lifts_recall(spark, embs01):
    """The sf0.01 corpus has exactly one pair at cosine ≥ 0.5. A single
    8-plane table misses it (per-table catch probability ≈ 4% at θ ≈ 60°);
    6 planes × 8 tables finds it — and finds nothing else, matching the
    exact all-pairs answer."""
    single = D.embedding_near_duplicates(
        embs01, threshold=0.5, planes=8, tables=1, dim=64
    ).collect()
    assert single == []
    multi = D.embedding_near_duplicates(
        embs01, threshold=0.5, planes=6, tables=8, dim=64
    ).collect()
    assert {(r["a"], r["b"]) for r in multi} == {(169, 466)}


def test_duplicate_clusters_transitive(spark):
    """Label propagation must merge across hops: pairs (1,2),(2,3) form
    one cluster {1,2,3} labeled 1; (10,11) stays separate; keep-list
    retains the minimum per cluster plus untouched rows."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    cl = {r["k"]: r["cluster"] for r in D.duplicate_clusters(pairs).collect()}
    assert cl == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 10, 11, 99)],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"] for r in D.dedup_by_clusters(df, pairs, "doc_id").collect()
    )
    assert kept == [1, 10, 99]


def test_duplicate_clusters_long_chain(spark):
    """A 12-hop path cluster converges — and under star contraction it
    must do so within 4 rounds (log², not diameter, rounds), else the
    non-convergence guard raises."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a long, b long"
    )
    cl = D.duplicate_clusters(pairs, max_iters=4).collect()
    assert {r["cluster"] for r in cl} == {0}
    assert len(cl) == 13
    # too few rounds must FLAG (not silently return) unconverged labels
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(pairs, max_iters=2)


def _union_find_labels(edges) -> dict:
    """Pure-Python union-find: node -> minimum node of its component."""
    parent = {x: x for e in edges for x in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_duplicate_clusters_label_prop_parity(spark):
    """Star contraction labels == union-find labels on a mixed component
    shape (a 3-hop path, a 2-hop path and a single edge)."""
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {r["k"]: r["cluster"] for r in D.duplicate_clusters(pairs).collect()}
    assert got == _union_find_labels(edges)
    assert set(got.values()) == {1, 10, 20}


def test_duplicate_clusters_random_graphs_match_union_find(spark):
    """Star contraction on seeded random graphs == a pure-Python
    union-find, and emits EXACTLY one row per node — guards the subtle
    fixed-point failure where a node keeps two parents (b->c1, b->c2)
    yet no source appears as a target, which duplicate rows would
    reveal."""
    import random

    for seed, n, m in [(0, 25, 30), (1, 40, 35), (2, 60, 90), (3, 50, 49)]:
        rng = random.Random(seed)
        edges = {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(m)
        }
        want = _union_find_labels(sorted(edges))
        touched = sorted(want)

        pairs = spark.createDataFrame(
            [(int(b), int(a)) for a, b in sorted(edges)], "a long, b long"
        )
        rows = D.duplicate_clusters(pairs, max_iters=12).collect()
        assert len(rows) == len(touched), f"seed {seed}: duplicate/missing rows"
        got = {r["k"]: r["cluster"] for r in rows}
        assert got == want, f"seed {seed}"


def test_embedding_corpus_generator_deterministic(tmp_path):
    """Same args → identical corpus bytes and truth; planted cosine bands
    land where the construction promises (numpy-only, no Spark)."""
    import duckdb

    from data_drift_monitoring_spark.generator import generate_embedding_corpus

    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    s1 = generate_embedding_corpus(d1, n_vecs=3000, dim=64, seed=7, num_partitions=2)
    s2 = generate_embedding_corpus(d2, n_vecs=3000, dim=64, seed=7, num_partitions=2)
    assert s1 == s2
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT kind, min(cosine), max(cosine) FROM '{d1}/truth.parquet' "
        "GROUP BY kind ORDER BY kind"
    ).fetchall()
    bands = {k: (lo, hi) for k, lo, hi in rows}
    assert 0.60 <= bands["decoy"][0] and bands["decoy"][1] <= 0.85 + 1e-6
    assert 0.95 <= bands["near"][0] and bands["near"][1] <= 0.98 + 1e-6
    assert 0.98 <= bands["tight"][0] and bands["tight"][1] <= 0.999 + 1e-6
    t1 = con.execute(f"SELECT md5(string_agg(a||','||b||','||kind, ';' ORDER BY a,b)) FROM '{d1}/truth.parquet'").fetchone()
    t2 = con.execute(f"SELECT md5(string_agg(a||','||b||','||kind, ';' ORDER BY a,b)) FROM '{d2}/truth.parquet'").fetchone()
    assert t1 == t2


def test_embedding_near_dup_recall_on_planted_corpus(spark, tmp_path):
    """End-to-end LSH recall vs planted cosine truth at a small scale of
    the 1M benchmark fixture: every planted pair ≥0.95 found at the
    planes=24/tables=40 operating point, no decoy or unplanted pairs."""
    import duckdb

    from data_drift_monitoring_spark.generator import generate_embedding_corpus

    d = str(tmp_path / "emb")
    generate_embedding_corpus(d, n_vecs=8000, dim=64, seed=11, num_partitions=4)
    vecs = spark.read.parquet(f"{d}/vecs")
    pairs = D.embedding_near_duplicates(
        vecs, "vec_id", "embedding",
        threshold=0.95, planes=24, tables=40, dim=64,
    )
    found = {(r["a"], r["b"]) for r in pairs.select("a", "b").collect()}
    truth = dict()
    for a, b, c, k in duckdb.connect().execute(
        f"SELECT a, b, cosine, kind FROM '{d}/truth.parquet'"
    ).fetchall():
        truth[(a, b)] = (c, k)
    must = {p for p, (c, _) in truth.items() if c >= 0.95}
    assert len(must) > 30
    recall = len(found & must) / len(must)
    assert recall >= 0.9, f"recall {recall}"
    assert not (found - set(truth)), "unplanted pairs found"
    assert not {p for p in found if truth.get(p, (0, ""))[1] == "decoy"}


def test_embedding_near_duplicates_against(spark, tmp_path):
    """Incremental embedding against-index dedup: cross-side planted
    pairs ≥0.95 are found (same hyperplanes as the self-join form, so
    recall math is unchanged), within-side pairs are NOT reported, and
    the exact cross-salt guard (max_bucket_size=1) loses nothing."""
    import duckdb

    from data_drift_monitoring_spark.generator import generate_embedding_corpus

    d = str(tmp_path / "emb")
    generate_embedding_corpus(d, n_vecs=4000, dim=64, seed=13, num_partitions=2)
    vecs = spark.read.parquet(f"{d}/vecs")
    split = 2000
    index = vecs.filter(F.col("vec_id") < split)
    new = vecs.filter(F.col("vec_id") >= split)
    out = D.embedding_near_duplicates_against(
        index, new, threshold=0.95, planes=24, tables=40, dim=64
    )
    found = {(r["a"], r["b"]) for r in out.select("a", "b").collect()}
    truth = {
        (a, b): (c, k)
        for a, b, c, k in duckdb.connect()
        .execute(f"SELECT a, b, cosine, kind FROM '{d}/truth.parquet'")
        .fetchall()
    }
    crossing = {
        p for p, (c, _) in truth.items()
        if c >= 0.95 and (p[0] < split) != (p[1] < split)
    }
    assert len(crossing) > 5
    assert not {p for p in found if (p[0] < split) == (p[1] < split)}, (
        "within-side pair reported"
    )
    recall = len(found & crossing) / len(crossing)
    assert recall >= 0.9, f"recall {recall}"
    assert not (found - set(truth)), "unplanted pairs found"

    salted = {
        (r["a"], r["b"])
        for r in D.embedding_near_duplicates_against(
            index, new, threshold=0.95, planes=24, tables=40, dim=64,
            max_bucket_size=1,
        ).select("a", "b").collect()
    }
    assert salted == found


def test_minhash_duplicates_against(spark):
    """Incremental against-index dedup: only cross-side pairs are
    reported (within-index dups excluded), and the census skew guard is
    EXACT — forcing every bucket oversized (max_bucket_size=1) replicates
    the new side across chunks and still finds every pair."""
    # 16 words → 14 trigram shingles; a one-word swap changes 3 of them,
    # leaving Jaccard 11/17 ≈ 0.65 — above the 0.5 verify threshold
    base = (
        "spark shuffle exchange partition codegen broadcast join scan "
        "stage task executor driver catalyst tungsten arrow parquet"
    )
    index = spark.createDataFrame(
        [
            (0, base),
            (1, base),  # within-index exact dup of 0 — must NOT appear
            (2, "completely different words about gardens and rivers flow"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),  # exact dup of 0 and 1
            (11, base.replace("codegen", "velox")),  # near dup, J = 11/17
            (12, "unrelated text with zero overlap tokens whatsoever here"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["a"], r["b"])
        for r in D.minhash_duplicates_against(
            index, new, "doc_id", threshold=0.5, num_hashes=64, bands=32
        ).collect()
    }
    assert out == {(0, 10), (1, 10), (0, 11), (1, 11)}

    salted = {
        (r["a"], r["b"])
        for r in D.minhash_duplicates_against(
            index, new, "doc_id",
            threshold=0.5, num_hashes=64, bands=32, max_bucket_size=1,
        ).collect()
    }
    assert salted == out


def test_dedup_release_cached(spark, dup_docs):
    """Long-lived sessions (streaming/service) call dedup per batch: the
    persisted banded frames must be released on demand instead of
    accumulating in the SQL CacheManager forever."""
    from data_drift_monitoring_spark.operators import dedup as D

    # compare RDD-id SETS, not counts: unpersist() is async, so a prior
    # test's pending release can shrink the global count between two
    # snapshots and make a count-delta assert flake in full-suite runs
    def rdd_ids():
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = rdd_ids()
    pairs = D.minhash_verified_duplicates(dup_docs, "doc_id", threshold=0.5)
    pairs.count()
    cached = getattr(pairs, "_cached_intermediates", ())
    assert len(cached) >= 1
    added = rdd_ids() - before
    assert added
    D.release_cached(pairs)
    assert getattr(pairs, "_cached_intermediates", ()) == ()
    assert not (rdd_ids() & added)
    # cluster formation localCheckpoints per star round: stale rounds
    # release inline, the final frames through release_cached — no RDD
    # may be left for driver GC to find (the old flake: unpersist() on
    # a checkpointed frame is a no-op, storage lived until gc)
    before2 = rdd_ids()
    pairs2 = D.minhash_verified_duplicates(dup_docs, "doc_id", threshold=0.5)
    kept = D.dedup_by_clusters(dup_docs, pairs2, "doc_id")
    kept.count()
    D.release_cached(kept)
    D.release_cached(pairs2)
    assert not (rdd_ids() - before2)


def test_kmeans_default_sample_is_bounded(spark, embs):
    """sample_fraction=None derives the fraction from max_sample via a
    count — bit-identical to passing the derived fraction explicitly,
    and never the old collect-everything default (round-3 finding #2)."""
    import numpy as np

    n = embs.count()
    auto = S.kmeans_centroids(embs, n_cells=4, iters=2, max_sample=40)
    explicit = S.kmeans_centroids(
        embs, n_cells=4, iters=2, sample_fraction=min(1.0, 40 / n)
    )
    assert np.array_equal(auto, explicit)


def test_ivf_topk_caps_driver_side_queries(spark, embs):
    """Passing an oversized query frame must raise, not silently
    materialize it on the driver (round-3 finding #3); the collect is
    limit-pushed so the driver sees at most max_queries+1 rows."""
    import pytest as _pytest

    cent = S.kmeans_centroids(embs, n_cells=4, iters=2, max_sample=40)
    index = S.ivf_index(embs, cent)
    queries = embs.select(F.col("vec_id").alias("query_id"), "embedding")
    with _pytest.raises(ValueError, match="max_queries"):
        S.ivf_topk(index, queries, cent, k=3, nprobe=2, max_queries=5)
    # under the cap it still works
    small = queries.filter(F.col("query_id") < 3)
    out = S.ivf_topk(index, small, cent, k=3, nprobe=4, max_queries=5)
    assert out.count() > 0


def _minhash_oracle(texts, num_hashes=64, k=3, seed=42) -> list:
    """Independent per-doc MinHash: expr_words tokenization (no trim),
    pandas.util.hash_array word hashes, position-mixed XOR shingles (one
    whole-doc shingle for docs shorter than k), per-hash min of
    (a·(h mod p) + b) mod p with p = 2^31-1."""
    import pandas as pd
    import pandas.util as pdu

    from data_drift_monitoring_spark.operators._tokenize import expr_words

    p, mask = (1 << 31) - 1, (1 << 64) - 1
    mix = [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9]
    rng = np.random.default_rng(seed)
    a = rng.integers(1, p, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, p, size=num_hashes, dtype=np.int64)
    sigs = []
    for words in expr_words(pd.Series(texts, dtype=object)):
        hw = [int(h) for h in pdu.hash_array(np.array(words, dtype=object))]
        windows = (
            [hw[i : i + k] for i in range(len(hw) - k + 1)]
            if len(hw) >= k
            else [hw]
        )
        shingles = []
        for win in windows:
            v = 0
            for j, h in enumerate(win):
                v ^= (h * mix[j]) & mask
            shingles.append(v % p)
        hm = np.array(shingles, dtype=np.int64)[:, None]
        sigs.append(((hm * a + b) % p).min(axis=0).tolist())
    return sigs


def test_minhash_signature_table_bit_identical(spark):
    """The mapInArrow signature table must be BIT-IDENTICAL to an
    independent per-doc numpy oracle on the tokenizer edge cases: None,
    empty, blank, NBSP / final sigma / dotted İ, VT/FF/CR, trailing
    tab, docs shorter than k."""
    rows = [
        ("d1", "Hello world hello world"),
        ("d2", ""),
        ("d3", " "),
        ("d4", "one"),
        ("d5", "tab\tsep\tend\t"),
        ("d6", "x\xa0y nbsp İstanbul ΟΔΟΣ,"),
        ("d7", None),
        ("d8", "a b c d e f g h i j k"),
        ("d9", "a\x0bb\x0cc\rd\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r["minhash"]
        for r in D.minhash_signature_table(df, "doc_id", "text", 64, 3)
        .collect()
    }
    want = dict(zip([d for d, _ in rows], _minhash_oracle([t for _, t in rows])))
    assert got == want


def test_gram_rows_arrow_matches_portable_convention(spark):
    """_gram_rows_arrow (mapInArrow exploded path) must agree with the
    portable expression path on per-doc DISTINCT gram COUNTS and on the
    matched pair set (hash families differ, gram SETS must not)."""
    from data_drift_monitoring_spark.operators import contamination as C

    rows = [
        ("a", "one two three four five one two three four five"),
        ("b", "one two three"),          # shorter than n -> 1 whole gram
        ("c", ""),                        # empty -> [''] -> 1 gram
        ("d", "x\ty z\n"),
        ("e", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    arrow = {
        (r["eval_id"], r["n_eval_grams"])
        for r in C._gram_table(df, "text", "doc_id", 4, None, "eval")
        .select("eval_id", "n_eval_grams")
        .distinct()
        .collect()
    }
    expr = {
        (r["eval_id"], r["n_eval_grams"])
        for r in C._gram_table(
            df, "text", "doc_id", 4, D.portable_word_hash, "eval"
        )
        .select("eval_id", "n_eval_grams")
        .distinct()
        .collect()
    }
    assert arrow == expr
    # row multiplicity: one row per distinct gram per doc
    n_rows = C._gram_table(df, "text", "doc_id", 4, None, "eval").count()
    assert n_rows == sum(c for _, c in arrow)
