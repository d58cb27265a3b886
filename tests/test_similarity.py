"""Similarity-search tests: brute-force correctness, LSH recall."""

from __future__ import annotations

import math
import random

import pytest

from pond_spark.similarity import brute_force_topk, embedding_near_pairs, lsh_topk
from pond_spark.similarity.brute import knn_join


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(7)
    dim = 16
    rows = []
    for i in range(100):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # plant two vectors nearly identical to vector 0
    base = rows[0][1]
    rows.append((100, [x + 0.01 for x in base]))
    rows.append((101, [x * 1.001 for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def py_cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_brute_force_matches_python(vectors):
    rows = {r.vec_id: r.embedding for r in vectors.collect()}
    q = rows[0]
    expected = sorted(
        ((round(py_cosine(v, q), 6), -i) for i, v in rows.items()),
        reverse=True,
    )[:5]
    got = brute_force_topk(vectors, q, k=5).collect()
    assert [r.vec_id for r in got] == [-e[1] for e in expected]
    for r, e in zip(got, expected):
        assert abs(r.cosine - e[0]) < 1e-9
    # the planted near-dups rank directly behind the query vector itself
    assert {got[0].vec_id, got[1].vec_id, got[2].vec_id} == {0, 100, 101}


def test_lsh_topk_recall(vectors):
    rows = {r.vec_id: r.embedding for r in vectors.collect()}
    q = rows[0]
    brute = [r.vec_id for r in brute_force_topk(vectors, q, k=5).collect()]
    approx = [r.vec_id for r in lsh_topk(vectors, q, k=5, nbits=4).collect()]
    # near-identical vectors share every sign bit with the query →
    # guaranteed same bucket → the top hits must be recalled
    assert set(brute[:3]) <= set(approx)


def test_embedding_near_pairs_finds_planted(vectors):
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_pairs(vectors, dim=16, threshold=0.999, nbits=4).collect()
    }
    assert (0, 100) in pairs and (0, 101) in pairs and (100, 101) in pairs


def test_knn_join(vectors):
    small = vectors.filter("vec_id in (0, 100, 101, 5, 6)")
    out = knn_join(small, small, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append((r.nid, r.cosine))
    for q, ns in by_q.items():
        # self always scores 1.0; rank-1 must score 1.0 too (ties with
        # an exactly-parallel vector break by id, e.g. 101's top is 0)
        assert ns[0][1] == 1.0
        # the query's own row is in its list UNLESS an exactly-parallel
        # vector with a smaller id crowded it out of the top-k — in
        # that case every listed neighbor ties at cosine 1.0
        assert q in {n for n, _ in ns} or all(c == 1.0 for _, c in ns)
        assert len(ns) == 2
    # non-parallel vectors 5 and 6 rank themselves first
    assert by_q[5][0][0] == 5
    assert by_q[6][0][0] == 6


def test_knn_join_guards_large_right_side(vectors):
    """The broadcast-cartesian scale-killer refuses big right sides
    (VERDICT r1 item 7); an explicit max_right_rows override lets a
    knowing caller proceed."""
    import pytest

    small = vectors.filter("vec_id in (0, 100, 101)")
    with pytest.raises(ValueError, match="scale-killer"):
        knn_join(small, vectors, k=2, max_right_rows=10)
    # same call, explicit override: runs
    assert knn_join(small, vectors, k=2, max_right_rows=10**6).count() == 6


def test_cross_scores_guard_boundary_fuzz(spark, vectors):
    """Property-fuzz the limit-probe guard (VERDICT r5 ask #6): for
    120 randomized (right_rows, max_right_rows) pairs around the
    boundary, cross_scores must refuse iff right_rows > max — an
    off-by-one in the limit(max+1) probe would show up here. The
    non-raising branch stays lazy, so each case costs one tiny count
    job."""
    import random

    import pytest

    from pond_spark.similarity.brute import cross_scores

    rng = random.Random(0xC0FFEE)
    left = vectors.filter("vec_id = 0")
    total = vectors.count()
    for _ in range(120):
        n = rng.randint(1, min(20, total))
        # max around the boundary: n-2 .. n+2, floor 1
        m = max(1, n + rng.randint(-2, 2))
        right = vectors.limit(n)
        if n > m:
            with pytest.raises(ValueError, match="scale-killer"):
                cross_scores(left, right, max_right_rows=m)
        else:
            # must NOT raise; plan construction + guard probe only
            cross_scores(left, right, max_right_rows=m)


def test_ivf_topk_recall(vectors):
    """IVF with all lists probed == brute force; with nprobe=4/8 the
    planted near-dups of vector 0 must still be found when querying
    with vector 0's embedding."""
    from pond_spark.similarity import brute_force_topk, ivf_topk

    q = [r.embedding for r in vectors.filter("vec_id = 0").collect()][0]
    exact = [r.vec_id for r in brute_force_topk(vectors, q, k=5).collect()]
    full = [
        r.vec_id
        for r in ivf_topk(vectors, q, k=5, n_centroids=8, nprobe=8).collect()
    ]
    assert full == exact  # probing every list degenerates to brute force
    probed = [
        r.vec_id
        for r in ivf_topk(vectors, q, k=5, n_centroids=8, nprobe=4).collect()
    ]
    # the planted near-identical vectors live in the query's own list
    assert {0, 100, 101} <= set(probed)


def test_ivf_assign_is_deterministic(vectors):
    from pond_spark.similarity import ivf_assign, train_centroids

    c1 = train_centroids(vectors, n_centroids=4)
    c2 = train_centroids(vectors, n_centroids=4)
    assert c1 == c2
    a = ivf_assign(vectors, c1).select("vec_id", "ivf_list").collect()
    assert all(0 <= r.ivf_list < 4 for r in a)


def test_ivf_index_build_search_prunes_partitions(vectors, tmp_path):
    """Persisted IVF index: search results equal the in-query ivf_topk
    (same centroids → same lists → same rounded cosine), and the
    ivf_list IN-filter prunes at the PARTITION level — the plan must
    show partition filters, not a full scan of all lists."""
    from pond_spark.plans import formatted_plan
    from pond_spark.similarity.index import IVFIndex, build_ivf_index
    from pond_spark.similarity.ivf import ivf_topk, train_centroids

    q = [0.5] * 16
    cent = train_centroids(vectors, n_centroids=4, sample_n=102)
    idx = build_ivf_index(
        vectors, str(tmp_path / "ivf"), n_centroids=4, centroids=cent
    )
    got = idx.search(q, k=5, nprobe=2).collect()
    want = ivf_topk(vectors, q, k=5, nprobe=2, centroids=cent).collect()
    assert [(r.vec_id, r.cosine) for r in got] == [
        (r.vec_id, r.cosine) for r in want
    ]

    plan = formatted_plan(idx.search(q, k=5, nprobe=2))
    assert "PartitionFilters" in plan and "ivf_list" in plan, plan

    # reopening from disk restores the quantizer
    idx2 = IVFIndex(vectors.sparkSession, str(tmp_path / "ivf"))
    assert idx2.centroids == cent
    assert idx2.read().count() == 102


def test_semantic_pairs_find_planted(vectors):
    """SemDeDup: the planted near-identical vectors (0, 100, 101) land
    in one cluster and pair at cosine ~1."""
    from pond_spark.similarity.semdedup import semantic_pairs

    pairs = semantic_pairs(
        vectors, threshold=0.95, n_centroids=4, sample_n=102
    ).collect()
    got = {(r.keep_id, r.drop_id) for r in pairs}
    assert {(0, 100), (0, 101), (100, 101)} <= got
    assert all(r.keep_id < r.drop_id for r in pairs)
    assert all(r.cosine >= 0.95 for r in pairs)


def test_semantic_dedup_keeps_min_id(vectors):
    from pond_spark.similarity.semdedup import semantic_dedup

    kept = {
        r.vec_id
        for r in semantic_dedup(
            vectors, threshold=0.95, n_centroids=4, sample_n=102
        ).collect()
    }
    # 100 and 101 duplicate 0 → dropped; 0 survives
    assert 0 in kept and 100 not in kept and 101 not in kept
    assert len(kept) == 100


def test_semantic_pairs_cluster_cap(vectors):
    """cluster_cap=1 removes every cluster from pairing → no pairs."""
    from pond_spark.similarity.semdedup import semantic_pairs

    assert (
        semantic_pairs(
            vectors, threshold=0.0, n_centroids=4, sample_n=102, cluster_cap=1
        ).count()
        == 0
    )


def test_pq_encode_shape_and_determinism(vectors):
    from pond_spark.similarity.pq import pq_encode, train_pq

    books = train_pq(vectors, m=4, ksub=8, sample_n=64)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 4
    coded = pq_encode(vectors, books).select("vec_id", "pq_code")
    a = {r.vec_id: r.pq_code for r in coded.collect()}
    b = {r.vec_id: r.pq_code for r in coded.collect()}
    assert a == b
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in a.values())
    # near-identical vectors quantize to the same code word
    assert a[0] == a[100] == a[101]


def test_pq_topk_recall(vectors):
    from pond_spark.similarity.pq import pq_topk

    rows = {r.vec_id: r.embedding for r in vectors.collect()}
    q = rows[0]
    brute = [r.vec_id for r in brute_force_topk(vectors, q, k=5).collect()]
    approx = pq_topk(vectors, q, k=5, m=4, ksub=8, refine=4, sample_n=64)
    got = [r.vec_id for r in approx.collect()]
    # the planted near-dups share the query's code word -> ADC ranks
    # them at the top of the shortlist; exact re-rank must recall them
    assert set(brute[:3]) <= set(got)
    # re-ranked scores are exact cosines in descending order
    scores = [r.cosine for r in approx.collect()]
    assert scores == sorted(scores, reverse=True)


def test_ivfpq_index_adc_search(vectors, tmp_path):
    """IVFPQ: build stores pq_code next to each vector; search_adc
    prunes partitions AND ranks the shortlist from the code column
    alone (the ADC scan's ReadSchema must not include the vector
    column), then re-ranks exactly — the planted near-dups of the
    query vector must come back on top."""
    from pond_spark.plans import formatted_plan
    from pond_spark.similarity.index import IVFIndex, build_ivf_index

    rows = {r.vec_id: r.embedding for r in vectors.collect()}
    q = rows[0]
    idx = build_ivf_index(
        vectors, str(tmp_path / "ivfpq"), n_centroids=4, sample_n=102,
        pq_m=4, pq_ksub=8,
    )
    got = idx.search_adc(q, k=5, nprobe=2, refine=4).collect()
    assert {got[0].vec_id, got[1].vec_id, got[2].vec_id} == {0, 100, 101}
    scores = [r.cosine for r in got]
    assert scores == sorted(scores, reverse=True)

    # the ADC shortlist stage reads codes, not vectors: assert on the
    # scan schema of the shortlist plan alone
    books = idx.pq_codebooks
    from pyspark.sql import functions as F

    from pond_spark.similarity.pq import adc_cosine_expr

    shortlist = (
        idx.read()
        .filter(F.col("ivf_list").isin([0, 1]))
        .select("vec_id", adc_cosine_expr(F.col("pq_code"), books, q).alias("adc"))
    )
    plan = formatted_plan(shortlist)
    readschema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert readschema and all("embedding" not in l for l in readschema), plan

    # reopen restores the codebooks; flat search still works
    idx2 = IVFIndex(vectors.sparkSession, str(tmp_path / "ivfpq"))
    assert idx2.pq_codebooks == books
    assert idx2.search(q, k=3, nprobe=2).count() == 3


def test_ivf_index_append_no_retrain(vectors, tmp_path):
    """Appended vectors are assigned with the STORED quantizer and
    become searchable; existing rows are untouched."""
    from pond_spark.similarity.index import build_ivf_index

    idx = build_ivf_index(
        vectors, str(tmp_path / "ivf_app"), n_centroids=4, sample_n=102,
        pq_m=4, pq_ksub=8,
    )
    q = [r.embedding for r in vectors.filter("vec_id = 0").collect()][0]
    before = idx.read().count()
    extra = vectors.sparkSession.createDataFrame(
        [(500, [x + 0.005 for x in q])], "vec_id long, embedding array<double>"
    )
    idx.append(extra)
    assert idx.read().count() == before + 1
    # the appended near-dup of the query lands in the searched lists
    got = [r.vec_id for r in idx.search_adc(q, k=5, nprobe=2).collect()]
    assert 500 in got and 0 in got


def test_ivf_index_compact_merges_append_files(vectors, tmp_path):
    """Repeated appends accumulate small files; compact merges each
    oversized list to its byte-warranted file count without changing
    a single search result."""
    import glob as _glob

    from pond_spark.similarity.index import build_ivf_index

    idx = build_ivf_index(
        vectors, str(tmp_path / "ivf_c"), n_centroids=4, sample_n=102
    )
    q = [r.embedding for r in vectors.filter("vec_id = 0").collect()][0]
    extra = vectors.sparkSession.createDataFrame(
        [(600 + i, [x + 0.001 * i for x in q]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    for i in range(4):
        idx.append(extra.filter(f"vec_id = {600 + i}"))
    before = idx.search(q, k=8, nprobe=4).collect()
    nfiles_before = len(_glob.glob(str(tmp_path / "ivf_c" / "*" / "*.parquet")))
    report = idx.compact()
    nfiles_after = len(_glob.glob(str(tmp_path / "ivf_c" / "*" / "*.parquet")))
    assert report and nfiles_after < nfiles_before
    after = idx.search(q, k=8, nprobe=4).collect()
    assert [(r.vec_id, r.cosine) for r in before] == [
        (r.vec_id, r.cosine) for r in after
    ]


def test_hard_negative_pairs_same_cluster_no_self(vectors):
    from pond_spark.similarity.ivf import ivf_assign, train_centroids
    from pond_spark.similarity.negatives import hard_negative_pairs

    cent = train_centroids(vectors, n_centroids=4, sample_n=102)
    out = hard_negative_pairs(vectors, k=2, centroids=cent).collect()
    clusters = {
        r.vec_id: r.c
        for r in ivf_assign(vectors, cent, out_col="c").collect()
    }
    assert out, "expected pairs"
    for r in out:
        assert r.anchor_id != r.negative_id
        assert clusters[r.anchor_id] == clusters[r.negative_id] == r.cluster
        assert r.negative_id > r.anchor_id  # lead over id order
        assert r.offset in (1, 2)
    # deterministic across runs
    again = hard_negative_pairs(vectors, k=2, centroids=cent).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # the planted near-dups of vector 0 share its cluster -> they pair
    pairs = {(r.anchor_id, r.negative_id) for r in out}
    assert any(a in (0, 100, 101) and b in (0, 100, 101) for a, b in pairs)


def test_lsh_multiprobe_knob_widens_candidates(vectors):
    """Regression (r4 review): multiprobe was multiplied by nbits so
    every value >= 1 probed ALL flip neighbors. Now it is the count of
    query-directed 1-bit flips: 0 = exact bucket only, higher values
    only ADD candidates, None = all flips (the old behavior)."""
    q = [(i % 5) / 5.0 for i in range(16)]

    def ids(mp):
        return {
            r.vec_id
            for r in lsh_topk(
                vectors, q, k=50, nbits=4, multiprobe=mp
            ).collect()
        }

    exact = ids(0)
    two = ids(2)
    alln = ids(None)
    assert exact <= two <= alln
    assert len(alln) > len(exact)  # flips really add buckets here


def test_zero_norm_embeddings_are_inert(spark):
    """Regression (r4 review): a zero embedding aborted cosine queries
    under ANSI mode (DIVIDE_BY_ZERO) or, with ANSI off, scored NaN —
    which passes >= filters and sorts FIRST in top-k. Zero vectors now
    get NULL cosine: excluded from pairs and never in the top-k."""
    rows = [(0, [0.0] * 8)] + [
        (i, [(i + j) % 5 / 4.0 + 0.1 for j in range(8)]) for i in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [0.5] * 8
    top = brute_force_topk(df, q, k=10, vec_col="embedding").collect()
    assert 0 not in {r.vec_id for r in top}
    assert all(r.cosine is not None for r in top)

    pairs = embedding_near_pairs(df, dim=8, threshold=0.5, nbits=2).collect()
    assert all(0 not in (r.id_a, r.id_b) for r in pairs)

    out = knn_join(df.filter("vec_id > 0"), df, k=3).collect()
    assert all(r.nid != 0 for r in out)


def test_bitext_margin_suppresses_hub(spark):
    """The ratio margin must prefer a mutually-exclusive near-identical
    pair over a hub vector that is moderately close to EVERY source —
    raw cosine alone would sometimes pick the hub (Artetxe & Schwenk's
    motivating failure)."""
    from pond_spark.similarity.bitext import bitext_mine

    def v(x, y):
        return [float(x), float(y)] + [0.0] * 6

    src = spark.createDataFrame(
        [(1, v(1, 0)), (2, v(0, 1)), (3, v(0.8, -0.6))],
        "vec_id long, embedding array<float>",
    )
    # t11 ~ s1, t12 ~ s2, t13 ~ s3, hub equally close to s1 and s2
    tgt = spark.createDataFrame(
        [(11, v(0.99, 0.01)), (12, v(0.01, 0.99)),
         (13, v(0.79, -0.61)), (99, v(0.72, 0.69))],
        "vec_id long, embedding array<float>",
    )
    out = {r.sid: r for r in bitext_mine(
        src, tgt, k=2, margin_threshold_bp=0, dim=8
    ).collect()}
    assert out[1].tid == 11
    assert out[2].tid == 12
    assert out[3].tid == 13
    # determinism
    again = {r.sid: r.tid for r in bitext_mine(
        src, tgt, k=2, margin_threshold_bp=0, dim=8
    ).collect()}
    assert again == {s: r.tid for s, r in out.items()}


def test_embedding_catalog_incremental(spark, tmp_path):
    """Cross-run semantic near-dedup: run 2 probes run 1's bucket keys
    without re-bucketing run 1; a near-identical vector collides, an
    orthogonal one passes filter_new; re-probes are idempotent."""
    from pond_spark.similarity.catalog import EmbeddingCatalog

    from pyspark.sql import functions as F

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (8 - len(xs))

    run1 = spark.createDataFrame(
        [(1, v(1, 0)), (2, v(0, 1))], "vec_id long, embedding array<float>"
    )
    run2 = spark.createDataFrame(
        [(11, v(0.99, 0.01)), (12, v(-1, -1))],
        "vec_id long, embedding array<float>",
    )
    cat = EmbeddingCatalog(spark, str(tmp_path / "ecat"), dim=8, nbits=6)
    cat.register(run1)
    cand = {(r.new_id, r.old_id) for r in cat.near_candidates(run2).collect()}
    assert (11, 1) in cand  # near-parallel to run 1's vector 1
    fresh = {r.vec_id for r in cat.filter_new(run2).collect()}
    assert 11 not in fresh
    # idempotency: registered vectors produce no self-pairs
    assert cat.near_candidates(run1).filter(
        F.col("new_id") == F.col("old_id")
    ).count() == 0


def test_embedding_catalog_gate_vs_near_pairs(spark, tmp_path, vectors):
    """Table 0 reproduces embedding_near_pairs' candidate stage at
    equal nbits/seed: any cross near-pair the in-query bucket join
    finds implies a catalog collision, so filter_new survivors are
    disjoint from the in-query pair set."""
    from pond_spark.similarity import embedding_near_pairs
    from pond_spark.similarity.catalog import EmbeddingCatalog

    olds = vectors.filter("vec_id < 100")
    news = vectors.filter("vec_id >= 100")
    cat = EmbeddingCatalog(spark, str(tmp_path / "ecat2"), dim=16, nbits=4)
    cat.register(olds)
    fresh = {r.vec_id for r in cat.filter_new(news).collect()}
    pairs = embedding_near_pairs(vectors, dim=16, threshold=0.0, nbits=4)
    crossed = {
        max(r.id_a, r.id_b)
        for r in pairs.collect()
        if (r.id_a < 100) != (r.id_b < 100)
    }
    assert fresh.isdisjoint(crossed)


def test_embedding_catalog_params_pinned_and_compact(spark, tmp_path):
    import glob

    import pytest as _pytest
    from pyspark.sql import functions as F

    from pond_spark.similarity.catalog import EmbeddingCatalog

    path = str(tmp_path / "ecat3")
    rows = [
        (i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cat = EmbeddingCatalog(spark, path, dim=8, nbits=4, n_tables=2)
    for i in range(3):
        cat.register(df.filter(F.col("vec_id") % 3 == i))
    with _pytest.raises(ValueError, match="incomparable"):
        EmbeddingCatalog(spark, path, dim=8, nbits=6, n_tables=2)

    # near-copy of vec 0 ([(0*7+j)%5-2 ...]) so it shares its buckets
    probe = spark.createDataFrame(
        [(50, [x + 0.01 for x in rows[0][1]])],
        "vec_id long, embedding array<float>",
    )
    before = {(r.new_id, r.old_id) for r in cat.near_candidates(probe).collect()}
    files_before = len(glob.glob(path + "/part-*"))
    cat.compact()
    assert len(glob.glob(path + "/part-*")) < files_before
    after = {(r.new_id, r.old_id) for r in cat.near_candidates(probe).collect()}
    assert before == after and before


def test_embedding_catalog_verified_gate(spark, tmp_path):
    """VERDICT r8 #2: the exact-cosine verify leg. At tiny nbits the
    bucket gate false-drops unrelated vectors (shared bucket, low
    cosine); with store_vectors=True + verify_cos the drop decision is
    the exact cosine against the persisted vectors, so only TRUE
    near-dups drop regardless of bucket occupancy."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pond_spark.similarity.catalog import (
        EmbeddingCatalog, GateOvershootError,
    )

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (8 - len(xs))

    # nbits=1: 2 buckets/table — everything collides with something
    run1 = spark.createDataFrame(
        [(1, v(1, 0)), (2, v(0, 1))], "vec_id long, embedding array<float>"
    )
    run2 = spark.createDataFrame(
        [(11, v(0.99, 0.01)),        # true near-dup of 1
         (12, v(0.6, -0.8)),         # unrelated (cos<=0.6 to both)
         (13, None)],                # NULL always passes
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "vcat")
    cat = EmbeddingCatalog(
        spark, path, dim=8, nbits=1, n_tables=2, store_vectors=True
    )
    cat.register(run1)
    # bucket gate at nbits=1 drops the unrelated vector too
    bucket_fresh = {r.vec_id for r in cat.filter_new(run2).collect()}
    assert 11 not in bucket_fresh and 13 in bucket_fresh
    # verified gate: only the true near-dup drops
    fresh = {
        r.vec_id
        for r in cat.filter_new(run2, verify_cos=0.9).collect()
    }
    assert fresh == {12, 13}
    # the verify leg needs the vector store
    nocat = EmbeddingCatalog(spark, str(tmp_path / "nv"), dim=8, nbits=1)
    nocat.register(run1)
    with _pytest.raises(ValueError, match="store_vectors"):
        nocat.filter_new(run2, verify_cos=0.9)
    # a pre-r9 sidecar (no store_vectors key) opens as False
    import json as _json
    side = _json.loads((tmp_path / "nv.params.json").read_text())
    side.pop("store_vectors")
    (tmp_path / "nv.params.json").write_text(_json.dumps(side))
    EmbeddingCatalog(spark, str(tmp_path / "nv"), dim=8, nbits=1)  # no raise

    # occupancy guard: nbits=1 with both buckets occupied predicts
    # ~100% false drops — gate_check warns without a bound, refuses
    # with one, and advise() sizes the gate explicitly
    assert cat.predicted_gate_overshoot() > 0.5
    with _pytest.warns(UserWarning, match="false-drop"):
        cat.gate_check()
    with _pytest.raises(GateOvershootError, match="exceeds the bound"):
        cat.filter_new(run2, max_overshoot=0.05)
    rep = cat.advise()
    assert rep["predicted_gate_overshoot_ppm"] > 500_000
    assert rep["recommended_gate_nbits"] >= 4
    # expire keeps key store and vector store in lockstep
    path2 = str(tmp_path / "vcat2")
    cat2 = EmbeddingCatalog(
        spark, path2, dim=8, nbits=1, n_tables=2, store_vectors=True
    )
    cat2.register(run1, run_ts=1_000)
    cat2.register(
        spark.createDataFrame(
            [(3, v(-1, 0))], "vec_id long, embedding array<float>"
        ),
        run_ts=2_000,
    )
    cat2.expire(before_ts=1_500)
    assert spark.read.parquet(path2 + ".vectors").select(
        "vec_id"
    ).distinct().count() == 1
    # verified probe of the evicted content re-admits it
    fresh2 = {
        r.vec_id
        for r in cat2.filter_new(
            run1.withColumn("vec_id", F.col("vec_id") + 100),
            verify_cos=0.9,
        ).collect()
    }
    assert fresh2 == {101, 102}


def test_curate_run_embedding_verified_gate(spark, tmp_path):
    """The pipeline wiring (pipeline._emb_gate): emb_verify_cos turns
    the cross-run semantic gate into the verified mode — unrelated
    vectors survive a saturated bucket space; emb_max_overshoot makes
    the verify-less mode refuse loudly instead."""
    import pytest as _pytest

    from pond_spark.pipeline import CurationConfig, curate_run, final_corpus_path
    from pond_spark.similarity.catalog import GateOvershootError

    good = "clean prose with plenty of ordinary readable words " * 3

    def day(path, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, embedding array<float>"
        ).write.mode("overwrite").parquet(str(path))
        return str(path)

    e1 = [1.0, 0.0, 0.0, 0.0]
    e1b = [0.99, 0.01, 0.0, 0.0]   # near-dup of e1
    e2 = [0.6, -0.8, 0.0, 0.0]     # unrelated
    d1 = day(tmp_path / "d1", [(1, good + "one", e1)])
    d2 = day(tmp_path / "d2", [(2, good + "two", e1b),
                               (3, good + "three", e2)])
    cat = str(tmp_path / "ecat")
    cfg = CurationConfig(
        min_words=10, stages=("quality",),
        extra={"emb_dim": 4, "emb_nbits": 1, "emb_tables": 2,
               "emb_verify_cos": 0.9},
    )
    curate_run(spark, d1, str(tmp_path / "w1"), cfg,
               embedding_catalog_path=cat)
    r2 = curate_run(spark, d2, str(tmp_path / "w2"), cfg,
                    embedding_catalog_path=cat)
    kept = {
        r.doc_id
        for r in spark.read.parquet(final_corpus_path(r2)).collect()
    }
    assert kept == {3}  # near-dup gated, unrelated survived nbits=1
    # verify-less mode at the same nbits refuses via the bound
    cfg_refuse = CurationConfig(
        min_words=10, stages=("quality",),
        extra={"emb_dim": 4, "emb_nbits": 1, "emb_tables": 2,
               "emb_store_vectors": True,  # same sidecar, bucket probe
               "emb_max_overshoot": 0.05},
    )
    with _pytest.raises(GateOvershootError):
        curate_run(spark, d2, str(tmp_path / "w3"), cfg_refuse,
                   embedding_catalog_path=cat)


def test_bitext_ann_full_probe_equals_exact(spark):
    """With nbits=1 and multiprobe=1 every source row probes both
    buckets, so the ANN candidate set is the full cross matrix and
    bitext_mine_ann must EQUAL bitext_mine exactly — same margin
    arithmetic over the same scores."""
    from pond_spark.similarity.bitext import bitext_mine, bitext_mine_ann

    emb = [
        (i, [float((i * 13 + j * 5) % 9 - 4) for j in range(8)])
        for i in range(24)
    ]
    src = spark.createDataFrame(
        emb[:12], "vec_id long, embedding array<float>"
    )
    tgt = spark.createDataFrame(
        emb[12:], "vec_id long, embedding array<float>"
    )
    exact = sorted(
        (r.sid, r.tid, r.cos_q, r.margin_bp)
        for r in bitext_mine(src, tgt, k=3, margin_threshold_bp=0).collect()
    )
    ann = sorted(
        (r.sid, r.tid, r.cos_q, r.margin_bp)
        for r in bitext_mine_ann(
            src, tgt, dim=8, k=3, margin_threshold_bp=0,
            nbits=1, multiprobe=1,
        ).collect()
    )
    assert ann == exact
    assert len(exact) > 0


def test_bitext_margin_small_neighborhood_counts(spark):
    """A side with fewer than k neighbors must be averaged over its
    ACTUAL neighbor count (ADVICE r5): with one source and two
    targets at k=4, sum_s covers 2 terms and each sum_t covers 1 —
    the margin is cos/((avg_s+avg_t)/2), not the fixed-2k-deflated
    value."""
    from pond_spark.similarity.bitext import bitext_mine

    src = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    tgt = spark.createDataFrame(
        [(11, [1.0, 0.0]), (12, [0.8, 0.6])],
        "vec_id long, embedding array<float>",
    )
    rows = bitext_mine(src, tgt, k=4, margin_threshold_bp=0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.sid, r.tid) == (1, 11)
    # cosines: (1,11)=1.0, (1,12)=0.8 -> cos_q 1_000_000 / 800_000
    # sum_s=1_800_000 cnt_s=2; sum_t(11)=1_000_000 cnt_t=1
    # margin = 1e6 * 2e4 * 2 * 1 div (1.8e6*1 + 1e6*2) = 10526
    assert r.cos_q == 1_000_000
    assert r.margin_bp == (
        1_000_000 * 2 * 10_000 * 2 * 1
        // (1_800_000 * 1 + 1_000_000 * 2)
    )


def test_bitext_all_integer_projection(spark):
    """Hashed columns are integers end to end — no float crosses a
    row boundary (the PERF_NOTES grouping-order rule)."""
    from pond_spark.similarity.bitext import bitext_mine

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
         for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    df = bitext_mine(
        emb.filter("vec_id < 10"), emb.filter("vec_id >= 10"),
        k=3, margin_threshold_bp=0, dim=8,
    )
    kinds = dict(df.dtypes)
    assert kinds == {"sid": "bigint", "tid": "bigint",
                     "cos_q": "bigint", "margin_bp": "bigint"}
    assert df.count() > 0


def test_ivf_index_zero_query_returns_empty(spark, tmp_path):
    """Regression (r6 review): a zero-norm query has no cosine to any
    vector — the serving path must return empty like the in-query twin
    (ivf_topk), not k arbitrary rows scored 0.0."""
    from pond_spark.similarity.index import IVFIndex, build_ivf_index
    from pond_spark.similarity.ivf import ivf_topk

    rows = [
        (i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_zero")
    build_ivf_index(df, path, n_centroids=4, pq_m=4)
    idx = IVFIndex(spark, path)
    zero = [0.0] * 8
    assert idx.search(zero, k=5).count() == 0
    assert idx.search_adc(zero, k=5).count() == 0
    assert ivf_topk(df, zero, k=5, n_centroids=4).count() == 0  # the twin


def test_lloyd_centroids_empty_sample_raises_clearly():
    import pytest as _pytest

    from pond_spark.similarity.ivf import lloyd_centroids

    with _pytest.raises(ValueError, match="empty training sample"):
        lloyd_centroids([], n_centroids=4)


def test_embedding_catalog_bucketed_vector_sibling(spark, tmp_path):
    """Round-10 #3: ``vector_buckets`` hash-buckets the verify
    corpus's files on vec_id, so the verified gate's payload join
    plans with the vector scan bucketed and one fewer shuffle than
    the plain sibling — identical survivors either way."""
    from pyspark.sql import functions as F

    from pond_spark.plans.inspect import count_exchanges, formatted_plan
    from pond_spark.similarity.catalog import EmbeddingCatalog

    rows = [
        (i, [float((i * 13 + j) % 7 - 3) for j in range(8)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    run1 = emb.filter(F.col("vec_id") % 2 == 0)
    run2 = emb.filter(F.col("vec_id") % 2 == 1)

    plain = EmbeddingCatalog(
        spark, str(tmp_path / "vp"), dim=8, nbits=2, n_tables=1,
        store_vectors=True,
    )
    bucketed = EmbeddingCatalog(
        spark, str(tmp_path / "vb"), dim=8, nbits=2, n_tables=1,
        store_vectors=True, vector_buckets=4,
    )
    plain.register(run1)
    bucketed.register(run1)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out_p = plain.filter_new(run2, verify_cos=0.9)
        out_b = bucketed.filter_new(run2, verify_cos=0.9)
        assert "Bucketed: true" in formatted_plan(out_b)
        assert count_exchanges(out_b) < count_exchanges(out_p)
        assert (
            {r.vec_id for r in out_b.collect()}
            == {r.vec_id for r in out_p.collect()}
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # the sibling params are pinned: reopening without buckets refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="incomparable"):
        EmbeddingCatalog(
            spark, str(tmp_path / "vb"), dim=8, nbits=2, n_tables=1,
            store_vectors=True,
        )


def test_embedding_register_shares_one_timestamp(spark, tmp_path):
    """ADVICE r9: the bucket rows and their verify vectors must carry
    the SAME registration stamp — separately-resolved clocks let an
    expire horizon fall between them and evict vectors whose bucket
    keys survive (silent re-admission)."""
    from pond_spark.similarity.catalog import EmbeddingCatalog

    cat = EmbeddingCatalog(
        spark, str(tmp_path / "ts"), dim=8, nbits=2, n_tables=2,
        store_vectors=True,
    )
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    cat.register(emb)  # wall-clock path (no run_ts)
    bucket_ts = {r.registered_ts for r in cat._read().collect()}
    vec_ts = {r.registered_ts for r in cat._vstore.read().collect()}
    assert len(bucket_ts) == 1 and bucket_ts == vec_ts


def test_rhp_gate_coefficient_dim_aware(spark, tmp_path):
    """Round-10 #1: the gate-sizing coefficient is a measured per-dim
    curve (tools/gate_dim_calibration.py), monotone non-increasing in
    dim, anchored at the r9-validated dim=64 value; advise() surfaces
    it and derives both gate- and verify-mode nbits from it."""
    from pond_spark.similarity.catalog import (
        EmbeddingCatalog, rhp_gate_coefficient,
    )

    c16, c64, c128, c256, c1024 = (
        rhp_gate_coefficient(d) for d in (16, 64, 128, 256, 1024)
    )
    assert c16 > c64 > c128 > c256 > c1024  # finite-dim cost falls
    assert abs(c64 - 1.27) < 1e-9  # the r9-validated anchor
    assert rhp_gate_coefficient(8) == c16      # clamped below
    assert rhp_gate_coefficient(4096) == c1024  # clamped above

    cat = EmbeddingCatalog(
        spark, str(tmp_path / "adv"), dim=16, nbits=4, n_tables=1
    )
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 - 2) for j in range(16)])
         for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    cat.register(emb)
    stats = cat.advise()
    assert stats["gate_sizing_coefficient"] == round(c16, 4)
    # verify-mode sizing sits BELOW the gate sizing (epsilon=1 vs
    # 0.05: ~coef*log2(20) fewer planes) and both cap at min(dim, 63)
    assert stats["recommended_verify_nbits"] <= stats["recommended_gate_nbits"]
    assert stats["recommended_gate_nbits"] <= 16
    # at dim=16 and 300 vectors the uncapped want exceeds dim
    assert stats["gate_nbits_capped_by_dim"] is True


def test_rhp_bucket_vectorized_bit_exact(spark):
    """Round-10 perf path: the Arrow/numpy signature must be
    BIT-IDENTICAL to the HOF fold at every dim — catalogs pin bucket
    keys across runs, so a catalog registered through one backend
    must probe identically through the other. Random float32 vectors
    plus the degenerate rows (NULL, wrong length, NaN element) at
    dims spanning both sides of the auto-switch threshold."""
    import math
    import random

    from pyspark.sql import functions as F

    from pond_spark.similarity.lsh import rhp_bucket

    rng = random.Random(0xB17)
    for dim, nbits in ((16, 8), (64, 24), (256, 28), (1024, 20)):
        rows = []
        for i in range(300):
            vec = [
                # float32-exact values AND raw floats — the cast is
                # exact either way, exercise both
                rng.uniform(-1, 1) for _ in range(dim)
            ]
            rows.append((i, vec))
        rows.append((9001, None))
        rows.append((9002, [0.5] * (dim - 1)))          # wrong length
        rows.append((9003, [math.nan] + [0.1] * (dim - 1)))  # NaN
        rows.append((9004, [None] + [0.1] * (dim - 1)))  # null ELEMENT
        # (ADVICE r10: Arrow turns the null element into NaN, which
        # would set all bits; the Spark-side exists() mask must pin
        # the HOF's null-dot -> bucket 0 behavior instead)
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        hof = {
            r.vec_id: r.bucket
            for r in rhp_bucket(
                df, dim, nbits, vec_col="embedding", vectorized=False
            ).collect()
        }
        vec = {
            r.vec_id: r.bucket
            for r in rhp_bucket(
                df, dim, nbits, vec_col="embedding", vectorized=True
            ).collect()
        }
        diff = {k for k in hof if hof[k] != vec[k]}
        assert not diff, (dim, nbits, sorted(diff)[:5],
                          [(hof[k], vec[k]) for k in sorted(diff)[:3]])
        # degenerate rows: null dot -> 0; NaN dot -> all bits set
        # (Spark's NaN>=0 is true — NaN sorts above every numeric)
        assert hof[9001] == vec[9001] == 0
        assert hof[9002] == vec[9002] == 0
        assert hof[9003] == vec[9003] == (1 << nbits) - 1
        assert hof[9004] == vec[9004] == 0  # null element -> null dot


def test_cross_scores_vectorized_bit_exact(spark):
    """The Arrow/numpy cross_scores backend must emit exactly the JVM
    fold's (qid, nid, cosine) set — same pairs dropped for a NULL
    cosine, same NaN pairs, same 6-decimal values — for float32 and
    float64 columns, with and without the dim-unrolled form. The
    degenerate rows cover every class the backend special-cases: NULL
    vector, null element, NaN, ±inf, zero norm, overflow and lengths
    shorter and longer than the rest."""
    from pond_spark.similarity.brute import cross_scores

    k = 8
    rng = random.Random(0xC05)

    def rand_vec(n=k):
        return [rng.uniform(-1, 1) for _ in range(n)]

    degenerate = [
        None,                                    # NULL vector
        [None] + [0.3] * (k - 1),                # null element
        [math.nan] + [0.3] * (k - 1),            # NaN
        [math.inf] + [0.3] * (k - 1),            # +inf
        [0.3] * (k - 1) + [-math.inf],           # -inf
        [0.0] * k,                               # zero norm
        [1e30] * k,                              # overflows as float64 fold
        [0.5] * (k - 2),                         # short
        rand_vec(k + 3),                         # long: dim=k reads k
    ]
    left_rows = [(i, rand_vec()) for i in range(20)]
    left_rows += [(100 + i, v) for i, v in enumerate(degenerate)]
    right_rows = [(1000 + i, rand_vec()) for i in range(15)]
    right_rows += [(1100 + i, v) for i, v in enumerate(degenerate)]

    def as_set(rows):
        # NaN != NaN: compare NaN cosines by a sentinel
        return {
            (r.qid, r.nid, "nan" if math.isnan(r.cosine) else r.cosine)
            for r in rows
        }

    for elem in ("float", "double"):
        schema = f"vec_id long, embedding array<{elem}>"
        left = spark.createDataFrame(left_rows, schema)
        right = spark.createDataFrame(right_rows, schema)
        for dim in (None, k):
            jvm, vec = (
                as_set(
                    cross_scores(left, right, dim=dim, vectorized=v).collect()
                )
                for v in (False, True)
            )
            assert jvm, (elem, dim)
            assert any(c == "nan" for _q, _n, c in jvm), (elem, dim)
            assert jvm == vec, (
                elem, dim, sorted(jvm - vec)[:5], sorted(vec - jvm)[:5]
            )
