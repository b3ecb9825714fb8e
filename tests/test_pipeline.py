"""Training-data pipeline operators over the driver testdata tables."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from drain3_spark.pipeline import dedup, multimodal, similarity, text

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_text_stats(spark, docs):
    t = F.col("text")
    out = docs.select("doc_id",
                      text.token_count_ws(t).alias("tokens_ws"),
                      text.lang_id(t).alias("lang_pred"),
                      text.quality_score(t).alias("quality"),
                      text.fingerprint_md5(t).alias("fingerprint")).collect()
    assert all(r.tokens_ws >= 0 for r in out)
    assert all(0.0 <= r.quality <= 1.0 for r in out)
    assert all(len(r.fingerprint) == 32 for r in out)
    langs = {r.lang_pred for r in out}
    assert langs <= {"en", "de", "fr", "es", "und"}
    # duckdb cross-check of the whitespace token count
    con = duckdb.connect()
    dd = con.sql(f"""
        select doc_id, len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                       x -> x != '')) as t
        from parquet_scan('{SF_DIR}/documents.parquet')""").df()
    got = {r.doc_id: r.tokens_ws for r in out}
    for _, row in dd.iterrows():
        assert got[row.doc_id] == row.t, row.doc_id


def test_exact_duplicates(spark, docs):
    dup_src = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text").limit(5))
    groups = dedup.exact_duplicates(dup_src).collect()
    assert len(groups) == 5
    assert all(g.n_docs == 2 and g.keeper_id < 100000 for g in groups)


def test_jaccard_and_minhash(spark, docs):
    dup_src = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text").limit(5))
    jp = dedup.jaccard_pairs(dup_src, threshold=0.99).collect()
    exact_pairs = {(r.id_a, r.id_b) for r in jp}
    assert {(i, i + 100000) for i in range(5)} <= exact_pairs

    mh = dedup.minhash_lsh_duplicates(dup_src, threshold=0.99).collect()
    mh_pairs = {(r.id_a, r.id_b) for r in mh}
    # LSH candidates + exact verify must find all identical-doc pairs
    assert {(i, i + 100000) for i in range(5)} <= mh_pairs
    assert mh_pairs <= exact_pairs


def test_simhash(spark, docs):
    dup_src = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text").limit(3))
    out = dedup.simhash_duplicates(dup_src).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in out}
    for i in range(3):
        assert pairs.get((i, i + 100000)) == 0


def test_cosine_topk_vs_duckdb(spark, emb):
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    got = similarity.cosine_topk(emb, query, k=5).collect()
    assert got[0].vec_id == 0 and abs(got[0].cosine - 1.0) < 1e-6
    con = duckdb.connect()
    want = con.sql(f"""
        with q as (select embedding as qv from parquet_scan('{SF_DIR}/embeddings.parquet')
                   where vec_id = 0)
        select vec_id, round(list_cosine_similarity(embedding::double[], qv::double[]), 6) as cosine
        from parquet_scan('{SF_DIR}/embeddings.parquet'), q
        order by cosine desc, vec_id limit 5""").fetchall()
    assert [(r.vec_id, round(r.cosine, 5)) for r in got] == \
        [(v, round(c, 5)) for v, c in want]


def test_ivf_topk_recall(spark, emb):
    query = emb.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    brute = [r.vec_id for r in similarity.cosine_topk(emb, query, k=10).collect()]
    approx = [r.vec_id for r in
              similarity.ivf_topk(emb, query, k=10, num_centroids=8,
                                  probes=4).collect()]
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.3, (brute, approx)  # probing half the buckets
    assert 7 in approx  # the query vector itself must be found


def test_embedding_near_dup(spark, emb):
    dup = emb.unionByName(
        emb.filter(F.col("vec_id") < 3)
        .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"))
    pairs = {(r.id_a, r.id_b): r.cosine
             for r in similarity.cosine_near_dup_pairs(dup, threshold=0.999).collect()}
    for i in range(3):
        assert abs(pairs[(i, i + 100000)] - 1.0) < 1e-5


def test_multimodal_plumbing(spark):
    from drain3_spark import fixtures as FX
    clips = FX.gen_clips(spark, 20, dur_lo=200, dur_hi=400)
    feats = multimodal.audio_features(clips).collect()
    assert len(feats) == 20
    assert all(f.n_samples > 0 and 0 < f.rms < 1 and f.zero_crossings > 0
               for f in feats)


def test_ivf_assignment_narrow_and_paths_agree(spark, emb):
    """Bucket assignment must be a narrow pass (zero Exchange) and put
    every centroid vector in its own bucket."""
    lit_df = similarity.assign_ivf_buckets(emb, num_centroids=8)
    plan = lit_df._jdf.queryExecution().executedPlan().toString()
    # the embedding side must never shuffle; the centroid table arrives
    # as a ONE-ROW BroadcastExchange (r8: replaces the C x dim literal
    # expression tree whose codegen dominated the query's first run)
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan
    lit = {r.vec_id: r.bucket for r in lit_df.collect()}
    # every centroid vector sits in its own bucket
    for r in emb.orderBy("vec_id").limit(8).collect():
        assert lit[r.vec_id] == r.vec_id


def test_jaccard_df_cap_bounds_hot_shingles(spark):
    """A stopword shingle shared by every doc must not quadratically
    inflate the self-join; rare-shingle near-dups must survive the cap."""
    common = "the quick brown"  # one 3-gram every doc shares
    rows = [(i, f"{common} filler{i} mid{i} tail{i}") for i in range(40)]
    rows += [(100, f"{common} alpha beta gamma delta"),
             (101, f"{common} alpha beta gamma delta epsilon")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.jaccard_pairs(df, k=3, threshold=0.5, df_cap=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got                 # near-dup pair found
    assert all(a >= 100 for a, b in got)     # filler docs share only hot grams
    # without the cap the hot shingle alone creates 42*41/2 join rows;
    # with it, the common gram is gone so jaccard reflects rare grams only
    j = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}[(100, 101)]
    uncapped = {(r.id_a, r.id_b): r.jaccard
                for r in dedup.jaccard_pairs(df, k=3, threshold=0.5,
                                             df_cap=None).collect()}
    assert j <= 1.0 and (100, 101) in uncapped


def test_audio_spectral_features(spark):
    """Spectral DSP against known signals: the fixture clips are pure
    sines (+1% noise) at a freq derivable from the clip id, so the
    dominant frequency must land on the tone within FFT bin resolution;
    tones are spectrally flat-ZERO and never silent.  A crafted silent
    clip and an undecodable payload pin the edge rows."""
    import numpy as np
    from drain3_spark import fixtures as FX
    from drain3_spark.audio.codecs import encode
    from drain3_spark.audio.synth import clip_params
    from drain3_spark.pipeline.multimodal import audio_spectral_features

    clips = FX.gen_clips(spark, 40, dirty=False, dur_lo=300, dur_hi=600)
    feats = {r.clip_id: r for r in audio_spectral_features(clips).collect()}
    assert len(feats) == 40
    for cid, r in feats.items():
        p = clip_params(cid, 300, 600)
        bin_hz = p["sr_hz"] / r.n_samples
        assert abs(r.dominant_freq_hz - p["freq"]) <= 2 * bin_hz + 1e-9, \
            (cid, r.dominant_freq_hz, p["freq"])
        assert r.flatness < 0.1          # tone, not noise
        assert r.silence_ratio == 0.0    # 0.8 amplitude sine
        assert r.rolloff_hz >= r.dominant_freq_hz * 0.9

    silent = encode(np.zeros(16000, dtype=np.float32), "pcm_s16le")
    junk = b"\x01\x02\x03"
    edge = spark.createDataFrame(
        [("sil-1", bytearray(silent), 16000, "pcm_s16le"),
         ("bad-1", bytearray(junk), 16000, "pcm_f32le")],
        "clip_id string, bytes binary, sr_hz int, codec string")
    er = {r.clip_id: r for r in audio_spectral_features(edge).collect()}
    assert er["sil-1"].silence_ratio == 1.0
    assert er["sil-1"].dominant_freq_hz == 0.0
    assert er["bad-1"].centroid_hz is None and er["bad-1"].n_samples == 0


def test_lsh_incremental_equals_full_cross_pairs(spark):
    """Incremental dedup (new batch vs corpus index) must find exactly
    the full-corpus LSH pairs that cross the batch/corpus split, with
    identical exact-verified jaccard — whether the index is precomputed
    or derived in-call."""
    rows = [(i, f"background doc {i} with its own words w{i}a w{i}b w{i}c")
            for i in range(20)]
    # planted near-dups crossing the split (ids 100/101, 110/111: one
    # even=new, one odd=corpus) and one inside the corpus (201/203)
    rows += [(100, "the quick brown fox jumps over the lazy dog tonight"),
             (101, "the quick brown fox jumps over the lazy dog today"),
             (110, "pack my box with five dozen liquor jugs right now"),
             (111, "pack my box with five dozen liquor jugs right here"),
             (201, "sphinx of black quartz judge my vow immediately ok"),
             (203, "sphinx of black quartz judge my vow immediately no")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = df.filter("doc_id % 2 = 0")
    corpus = df.filter("doc_id % 2 = 1")

    full = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)): r.jaccard
            for r in dedup.minhash_lsh_duplicates(df, threshold=0.5).collect()}
    new_ids = {r[0] for r in rows if r[0] % 2 == 0}
    want = {}
    for (a, b), j in full.items():
        if (a in new_ids) != (b in new_ids):
            n, o = (a, b) if a in new_ids else (b, a)
            want[(n, o)] = j
    assert (100, 101) in want and (110, 111) in want
    assert (201, 203) not in want          # corpus-internal: out of scope

    inc = {(r.new_id, r.old_id): r.jaccard
           for r in dedup.lsh_incremental_duplicates(
               new, corpus, threshold=0.5).collect()}
    assert inc == want

    idx = dedup.minhash_band_index(corpus)
    inc_df = dedup.lsh_incremental_duplicates(new, corpus, index=idx,
                                              threshold=0.5)
    inc2 = {(r.new_id, r.old_id): r.jaccard for r in inc_df.collect()}
    assert inc2 == want

    # the O(batch + candidates) claim, plan-asserted: every join that
    # touches a shingle column is keyed on a candidate doc id (the
    # corpus shingles only exist downstream of the candidate semi-join)
    plan = inc_df._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "Join" in ln and "shingle" in ln:
            assert ("new_id" in ln or "old_id" in ln
                    or "id#" in ln or "id_" in ln), ln


def test_minhash_band_index_rejects_uneven_bands(spark):
    """16 hashes in 5 bands would leave seed 15 in no band; the index
    refuses instead of silently dropping it (as do lsh_candidate_pairs
    and the incremental operators, which build the same index)."""
    corpus = spark.createDataFrame([(1, "the quick brown fox")],
                                   "doc_id int, text string")
    for nh, bands in ((16, 5), (10, 4), (16, 0)):
        with pytest.raises(ValueError, match="equal bands"):
            dedup.minhash_band_index(corpus, num_hashes=nh, bands=bands)
    with pytest.raises(ValueError, match="equal bands"):
        dedup.lsh_candidate_pairs(corpus, num_hashes=16, bands=5)
    assert dedup.minhash_band_index(corpus, num_hashes=15,
                                    bands=5).count() == 5


def test_connected_components_and_dedup_groups(spark):
    """Hash-min + pointer-jump components: a long path (worst diameter),
    a star, an isolated pair, and a cycle all collapse to min-id groups;
    keepers are exactly the component minima."""
    edges = ([(i, i + 1) for i in range(10, 18)]       # path 10..18
             + [(30, 31), (30, 32), (30, 33)]          # star at 30
             + [(40, 41)]                              # pair
             + [(50, 51), (51, 52), (52, 50)])         # cycle
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.group_id
           for r in dedup.connected_components(pairs).collect()}
    want = {**{i: 10 for i in range(10, 19)},
            **{i: 30 for i in (30, 31, 32, 33)},
            40: 40, 41: 40, 50: 50, 51: 50, 52: 50}
    assert got == want
    keepers = {r.id for r in dedup.dedup_groups(pairs)
               .filter("is_keeper").collect()}
    assert keepers == {10, 30, 40, 50}


def _union_find_min_labels(edges):
    """Sequential reference: ``{id: smallest id of its component}``."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_random_vs_union_find(spark):
    """Seeded inputs — a random graph, a long path with shuffled ids
    (the most hook rounds per edge) and a string-id graph — must agree
    with a sequential union-find on every node.  A pair with a NULL
    endpoint is not an edge."""
    import numpy as np
    rng = np.random.RandomState(4242)
    n = 300
    random_edges = [(int(a), int(b))
                    for a, b in rng.randint(0, n, size=(400, 2)) if a != b]
    order = [int(x) * 7 + 3 for x in rng.permutation(2000)]
    path_edges = [(order[i], order[i + 1]) for i in range(len(order) - 1)]
    rng.shuffle(path_edges)
    string_edges = [(f"clip-{a:03d}", f"clip-{b:03d}")
                    for a, b in rng.randint(0, 120, size=(90, 2))]
    for edges, ddl in ((random_edges, "id_a long, id_b long"),
                       (path_edges, "id_a long, id_b long"),
                       (string_edges, "id_a string, id_b string")):
        want = _union_find_min_labels(edges)
        pairs = spark.createDataFrame(edges, ddl)
        got = {r.id: r.group_id
               for r in dedup.connected_components(pairs).collect()}
        assert got == want

    with_null = spark.createDataFrame(string_edges + [(None, "lone")],
                                      "id_a string, id_b string")
    got = {r.id: r.group_id
           for r in dedup.connected_components(with_null).collect()}
    assert got == _union_find_min_labels(string_edges)


def test_connected_components_job_count_independent_of_diameter(spark):
    """One Spark pass: a 256-node path (diameter 255) submits exactly as
    many Spark jobs as a single pair."""
    sc = spark.sparkContext
    counts = []
    for i, edges in enumerate(([(k, k + 1) for k in range(255)], [(0, 1)])):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        group = f"cc-job-count-{i}"
        sc.setJobGroup(group, group)
        try:
            rows = dedup.connected_components(pairs).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert {r.group_id for r in rows} == {0}
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert counts[0] == counts[1], counts


def test_connected_components_leaves_session_conf_alone(spark):
    """The session conf is shared by every thread's queries: while CC
    runs on another thread, AQE and the shuffle partition count must
    read the same as before it started."""
    import threading
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    pairs = spark.createDataFrame([(i, i + 1) for i in range(255)],
                                  "id_a long, id_b long")
    result, errors = [], []

    def run():
        try:
            result.extend(dedup.connected_components(pairs).collect())
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    t = threading.Thread(target=run)
    seen = []
    t.start()
    while t.is_alive():
        seen.append({k: spark.conf.get(k) for k in keys})
        t.join(timeout=0.005)
    t.join(timeout=300)
    assert not t.is_alive() and not errors, errors
    assert len(result) == 256
    assert seen and all(s == before for s in seen), [
        s for s in seen if s != before][:3]


def test_jaccard_default_cap_keeps_recall_on_straddling_pairs(spark):
    """Evidence for DEFAULT_DF_CAP=256 (the 'rare shingles carry the
    signal' claim): near-dup pairs whose shared shingles STRADDLE the
    cap — one shingle hotter than 256 docs (dropped) plus many rare ones
    (kept) — must be found by the default capped plan exactly as by
    ``df_cap=None`` at threshold >= 0.7."""
    common = "alpha beta gamma"
    rows = [(i, f"{common} filler{i} mid{i} tail{i}") for i in range(280)]
    pair_ids = []
    for p in range(4):
        base = " ".join(f"w{p}x{j}" for j in range(10))
        a, b = 1000 + 2 * p, 1001 + 2 * p
        rows += [(a, f"{common} {base}"),
                 (b, f"{common} {base} extra{p}")]
        pair_ids.append((a, b))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # the shared head shingle really does exceed the default cap
    from pyspark.sql import functions as F
    hot_df = (dedup.shingle_rows(df, k=3)
              .filter(F.col("shingle") == common).count())
    assert hot_df > dedup.DEFAULT_DF_CAP

    uncapped = {(r.id_a, r.id_b)
                for r in dedup.jaccard_pairs(df, k=3, threshold=0.7,
                                             df_cap=None).collect()}
    capped = {(r.id_a, r.id_b)
              for r in dedup.jaccard_pairs(df, k=3, threshold=0.7).collect()}
    assert set(pair_ids) <= uncapped
    assert uncapped <= capped, uncapped - capped


def test_jaccard_default_is_capped_no_self_join(spark):
    """The signature default must take the inverted-index path: no join
    keyed on the shingle column anywhere in the physical plan, and the
    results must equal an explicit DEFAULT_DF_CAP call."""
    rows = [(i, f"alpha beta gamma doc{i} tail{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.jaccard_pairs(df, k=3, threshold=0.1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    join_lines = [ln for ln in plan.splitlines()
                  if "Join" in ln and "shingle" in ln]
    assert not join_lines, join_lines
    explicit = dedup.jaccard_pairs(df, k=3, threshold=0.1,
                                   df_cap=dedup.DEFAULT_DF_CAP)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, explicit.collect()))


def test_lsh_verify_is_candidate_bounded(spark):
    """Pathological corpus: every document shares a hot shingle but the
    docs are otherwise unique, so an all-pairs verify would compute
    n²/2 Jaccards.  The candidate-bounded verify must (a) still find
    the true near-dup pair, (b) show every verify join keyed on a
    candidate id — never a raw shingle-only self-join — and (c) agree
    with the old formulation (candidates ∩ full exact Jaccard)."""
    common = "the quick brown"
    rows = [(i, f"{common} u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(300)]
    rows += [(9100, f"{common} alpha beta gamma delta epsilon zeta"),
             (9101, f"{common} alpha beta gamma delta epsilon eta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = dedup.minhash_lsh_duplicates(df, threshold=0.3)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert (9100, 9101) in got

    plan = out._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "Join" in ln and "shingle" in ln:
            # any join touching shingle must also be keyed on a doc id
            assert "id_a" in ln or "id_b" in ln or "id#" in ln or "id_" in ln, ln

    # old formulation on the same corpus (kept cheap by df_cap here,
    # exact on this corpus since no shingle exceeds the cap)
    cand = dedup.lsh_candidate_pairs(df)
    true_pairs = dedup.jaccard_pairs(df, threshold=0.0, df_cap=400)
    old = {(r.id_a, r.id_b): r.jaccard
           for r in cand.join(true_pairs, ["id_a", "id_b"])
           .filter(F.col("jaccard") >= 0.3).collect()}
    assert got == old


def test_near_dup_blas_path_matches_catalyst(spark, emb):
    """The BLAS per-block Gram-matrix path must find the same pairs as
    the expression self-join, with cosines equal to float tolerance."""
    cat = {(r.id_a, r.id_b): r.cosine for r in
           similarity.cosine_near_dup_pairs(emb, threshold=0.35).collect()}
    blas = {(r.id_a, r.id_b): r.cosine for r in
            similarity.cosine_near_dup_pairs(emb, threshold=0.35,
                                             method="blas").collect()}
    assert set(cat) == set(blas)
    assert cat, "threshold should admit at least one pair"
    for k in cat:
        assert abs(cat[k] - blas[k]) <= 1e-6, (k, cat[k], blas[k])


def test_connected_components_string_ids(spark):
    """String id columns (clip_id-style corpora) work natively — ids are
    never cast; group_id is the lexicographically smallest member."""
    edges = [("clip-b", "clip-c"), ("clip-a", "clip-b"),
             ("clip-x", "clip-y")]
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r.id: r.group_id
           for r in dedup.connected_components(pairs).collect()}
    assert got == {"clip-a": "clip-a", "clip-b": "clip-a",
                   "clip-c": "clip-a", "clip-x": "clip-x",
                   "clip-y": "clip-x"}
    assert dict(dedup.connected_components(pairs).dtypes) == {
        "id": "string", "group_id": "string"}


def test_connected_components_rejects_mixed_id_types(spark):
    pairs = spark.createDataFrame([(1, "a")], "id_a long, id_b string")
    with pytest.raises(TypeError, match="integer or string"):
        dedup.connected_components(pairs)


def test_update_band_index_sequential_equals_one_shot(spark):
    """Two ingest batches appended to the band index must leave the
    stored index identical to minhash_band_index over the unioned
    corpus — and batch-2 incremental dedup against the maintained index
    must equal dedup against a freshly built index."""
    rows0 = [(i, f"base document number {i} with shared words alpha beta")
             for i in range(20)]
    rows1 = [(100 + i, f"base document number {i} with shared words alpha beta")
             for i in range(5)]            # near-dups of corpus docs
    rows2 = [(200 + i, f"base document number {i} with shared words alpha beta")
             for i in range(5)]            # near-dups of corpus AND batch-1
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    corpus, b1, b2 = mk(rows0), mk(rows1), mk(rows2)

    idx0 = dedup.minhash_band_index(corpus)
    d1 = dedup.lsh_incremental_duplicates(b1, corpus, index=idx0, threshold=0.5)
    assert d1.count() > 0
    idx1 = idx0.unionByName(dedup.minhash_band_index(b1))

    # index equivalence: maintained == one-shot over the union
    union1 = corpus.unionByName(b1)
    want_idx = {tuple(r) for r in dedup.minhash_band_index(union1).collect()}
    got_idx = {tuple(r) for r in idx1.collect()}
    assert got_idx == want_idx

    # batch-2 dedup through the maintained index == through a fresh one
    got2 = {tuple(r) for r in dedup.lsh_incremental_duplicates(
        b2, union1, index=idx1, threshold=0.5).collect()}
    want2 = {tuple(r) for r in dedup.lsh_incremental_duplicates(
        b2, union1, index=dedup.minhash_band_index(union1),
        threshold=0.5).collect()}
    assert got2 == want2 and got2
    # batch-2 must see batch-1 docs (ids 100+) through the maintained index
    assert any(r[1] >= 100 for r in got2)


def test_auto_near_dup_multiprobe_recall(spark):
    """Self-blocking near-dup (q38): precision 1 vs brute force by
    construction, and probes=2 must recover boundary-straddling pairs
    that probes=1 loses — measured recall on a clustered corpus."""
    rng = np.random.RandomState(38)
    centers = rng.randn(6, 8) * 4.0
    rows = []
    vid = 0
    # round-robin across clusters so the deterministic coarse quantizer
    # ("first C vectors by id") spans the space instead of sampling one
    # blob — the layout a pre-shuffled real corpus has
    for _ in range(40):
        for c in range(6):
            v = centers[c] + rng.randn(8) * 0.35
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    embd = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    th = 0.97
    # ground truth: full all-pairs cosine over the 240 vectors
    X = np.array([r[1] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = np.round(Xn @ Xn.T, 6)
    truth = {(i, j) for i in range(vid) for j in range(i + 1, vid)
             if S[i, j] >= th}
    assert len(truth) > 50, "fixture must contain real near-dup pairs"

    def run(probes):
        out = similarity.cosine_near_dup_pairs_auto(
            embd, threshold=th, num_centroids=12, probes=probes)
        return {(r.id_a, r.id_b): r.cosine for r in out.collect()}

    got1, got2 = run(1), run(2)
    # precision 1: every reported pair is a true pair with the exact cosine
    for (i, j), cos in got2.items():
        assert (i, j) in truth
        assert abs(cos - S[i, j]) <= 1e-6
    r1 = len(set(got1) & truth) / len(truth)
    r2 = len(set(got2) & truth) / len(truth)
    assert r2 >= r1, (r1, r2)
    assert r2 >= 0.9, f"multi-probe recall too low: {r2} (single-probe {r1})"


def test_auto_near_dup_blas_matches_catalyst(spark, emb):
    """The self-blocking near-dup's BLAS scale path must produce the
    same pairs as the Catalyst expression path, cosines to float
    tolerance (the 6-dp round makes them equal in practice)."""
    cat = {(r.id_a, r.id_b): r.cosine
           for r in similarity.cosine_near_dup_pairs_auto(
               emb, threshold=0.35, num_centroids=8, probes=2).collect()}
    blas = {(r.id_a, r.id_b): r.cosine
            for r in similarity.cosine_near_dup_pairs_auto(
                emb, threshold=0.35, num_centroids=8, probes=2,
                method="blas").collect()}
    assert set(cat) == set(blas)
    assert cat and all(abs(cat[k] - blas[k]) <= 1e-6 for k in cat)
