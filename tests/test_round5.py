"""Round-5 tests: generic hamming_near_pairs exhaustiveness (pHash image
dedup modality), BPE token sequences, pip_join shuffle-regime parity,
sampling id-ceiling, pii count semantics."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"
REPO = pathlib.Path(__file__).resolve().parents[1]

_M64 = (1 << 64) - 1


def _brute_pairs(rows, max_hamming):
    """All (a, b, hamming) with a < b and popcount(xor) <= max_hamming,
    two's-complement 64-bit like Spark's xor on longs."""
    out = set()
    for i, (ida, ha) in enumerate(rows):
        for idb, hb in rows[i + 1:]:
            a, b = (ida, idb) if ida < idb else (idb, ida)
            d = bin((ha ^ hb) & _M64).count("1")
            if d <= max_hamming:
                out.add((a, b, d))
    return out


def _signed(h):
    return h - (1 << 64) if h >= (1 << 63) else h


@pytest.mark.parametrize("bits,max_hamming", [(64, 6), (64, 3), (32, 3)])
def test_hamming_near_pairs_exhaustive_vs_brute(spark, bits, max_hamming):
    """The block-pigeonhole candidate generation loses NO pair that the
    exact predicate admits — including signatures with bit 63 set (where
    arithmetic shiftright sign-extends and the block mask must strip the
    fill) and uneven block widths (64 bits over 7 blocks)."""
    from osm_cycling_quality_index_spark.operators.dedup import (
        hamming_near_pairs,
    )

    mask = (1 << bits) - 1
    rows = []
    for i in range(60):
        cl = i % 8
        base = (cl * 0x9E3779B1 * 2654435761) & mask
        if bits == 64 and cl % 2 == 0:
            base |= 1 << 63  # force negative longs through the block path
        h = base
        for j in range(i % 5):
            h ^= 1 << ((i * (11 + 3 * j)) % bits)
        rows.append((i, h))
    sdf = spark.createDataFrame(
        [(i, _signed(h)) for i, h in rows], "id BIGINT, h BIGINT"
    )
    got = {
        (r.a, r.b, r.hamming)
        for r in hamming_near_pairs(
            sdf, "id", "h", bits=bits, max_hamming=max_hamming,
            out_a="a", out_b="b",
        ).collect()
    }
    assert got == _brute_pairs(rows, max_hamming)


def test_phash_near_dups_matches_brute_force(spark):
    """The driver query's pHash pairs at sf0.01 (the correctness-gate
    scale; sf0.001's 150 ids over 256 clusters are all singletons), vs a
    literal brute-force cross-join on the same synthesized table."""
    import __spark_entry__ as E

    img = E._images_phash(spark, SF01)
    rows = [(r.image_id, r.phash & _M64) for r in img.collect()]
    got = {
        (r.img_a, r.img_b, r.hamming)
        for r in E.q_phash_near_dups(spark, SF01).collect()
    }
    assert got == _brute_pairs(rows, 6)
    assert got, "fixture must produce at least one near-dup pair"


def test_dedup_groups_images_collapses_clusters(spark):
    """Transitive pHash chains collapse into one group per component and
    every group's keeper is its minimum image_id."""
    import __spark_entry__ as E
    from osm_cycling_quality_index_spark.operators.dedup import (
        release_session_pinned,
    )

    out = E.q_dedup_groups_images(spark, SF01).collect()
    spark.catalog.clearCache()
    release_session_pinned(spark)
    by_group = {}
    for r in out:
        by_group.setdefault(r.group_id, []).append(r)
    for gid, members in by_group.items():
        assert gid == min(m.image_id for m in members)
        keepers = [m for m in members if m.is_keeper == 1]
        assert len(keepers) == 1 and keepers[0].image_id == gid
        assert all(m.n_members == len(members) for m in members)
    assert any(len(m) > 1 for m in by_group.values()), "need non-trivial groups"


def test_bpe_pieces_equal_greedy_sequences(spark):
    """The replace-chain piece ARRAYS (functions/bpe.bpe_pieces) equal the
    classic greedy encoder's per-word concatenation for every sf0.001 doc
    plus the boundary-semantics edge inputs (newline, tab, literal '|',
    empty, NULL)."""
    from osm_cycling_quality_index_spark.functions.bpe import (
        _WORD_MARK, bpe_encode_word, bpe_pieces,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [(90001, "line one\nline two"), (90002, "tab\tsep"),
         (90003, "pipe|mark here"), (90004, ""), (90005, None)],
        "doc_id BIGINT, text STRING",
    )
    rows = docs.unionByName(edge).select(
        "doc_id", "text", bpe_pieces(F.col("text")).alias("pieces")
    ).collect()
    assert len(rows) > 100
    for r in rows:
        if r.text is None:
            assert r.pieces is None
            continue
        want = []
        for w in r.text.lower().replace(_WORD_MARK, " ").split(" "):
            want.extend(bpe_encode_word(w))
        assert r.pieces == want, f"doc {r.doc_id}: {r.pieces[:8]} vs {want[:8]}"


def test_pip_join_shuffle_regime_matches_broadcast(spark):
    """pip_join with the broadcast threshold at -1 (forcing the shuffle regime's
    ids-only candidate join + attached-ring Arrow refine) returns exactly
    the broadcast regime's rows, and the session storage returns to
    baseline after release.  Polygon rows that share a poly_id are tested
    apart in both regimes: one row per (point, polygon row) containing
    the point."""
    from osm_cycling_quality_index_spark.operators.dedup import (
        release_session_pinned,
    )
    from osm_cycling_quality_index_spark.operators.images import pip_join
    from osm_cycling_quality_index_spark.plans.geo_queries import (
        _points_df, _triangles_df,
    )

    def square(x0, y0):
        return [{"x": x, "y": y} for x, y in
                ((x0, y0), (x0 + 0.01, y0), (x0 + 0.01, y0 + 0.01), (x0, y0 + 0.01))]

    release_session_pinned(spark)  # drain pins left by earlier tests
    base = _registry_size(spark)
    geom = "array<struct<x double, y double>>"
    repeated = (
        spark.createDataFrame(
            [("A", square(13.40, 52.50)), ("A", square(13.42, 52.50)),
             ("B", square(13.40, 52.50))], f"poly_id string, geometry {geom}"),
        spark.createDataFrame(
            [("in_first", 13.405, 52.505), ("in_second", 13.425, 52.505)],
            "image_id string, lon double, lat double"),
    )
    cases = [(_points_df(spark, SF01), _triangles_df(spark, SF01)), repeated[::-1]]
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    got = []
    for pts, polys in cases:
        bc = sorted((r.image_id, r.poly_id) for r in pip_join(pts, polys, res=9).collect())
        spark.conf.set(key, "-1")
        try:
            sh = sorted((r.image_id, r.poly_id)
                        for r in pip_join(pts, polys, res=9).collect())
        finally:
            spark.conf.set(key, saved)
        assert bc == sh
        got.append(bc)
    assert len(got[0]) > 100
    assert got[1] == [("in_first", "A"), ("in_first", "B"), ("in_second", "A")]
    release_session_pinned(spark)
    assert _registry_size(spark) == base


def _registry_size(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_pii_counts_on_progressively_redacted_text(spark):
    """A plus-prefixed digit run inside an email local part matches both
    the phone and email patterns; counting on the progressively-redacted
    text keeps n_phones == actual phone redactions (0 here, not 1)."""
    from osm_cycling_quality_index_spark.operators.quality import pii_scrub

    df = spark.createDataFrame(
        [(0, "write +12345678@foo.com today"),
         (1, "a@b.co then +998877665 separate")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (rows[0]["n_emails"], rows[0]["n_ips"], rows[0]["n_phones"]) == (1, 0, 0)
    assert (rows[1]["n_emails"], rows[1]["n_ips"], rows[1]["n_phones"]) == (1, 0, 1)
    import hashlib
    assert rows[0]["scrub_md5"] == hashlib.md5(b"write <EMAIL> today").hexdigest()


def test_hash_bucket_survives_64bit_ids(spark):
    """Ids past ~3.47e9 overflowed id*K under ANSI before the pre-reduce;
    the bucket must now compute and stay stable for any 64-bit id."""
    from osm_cycling_quality_index_spark.operators.sampling import (
        _K, _M, hash_bucket,
    )

    ids = [0, 1, 2**31 - 1, 2**31, 3_470_000_000, 2**62, 2**63 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id BIGINT")
    got = {
        r.doc_id: r.b
        for r in df.select("doc_id", hash_bucket(F.col("doc_id")).alias("b")).collect()
    }
    for i in ids:
        assert got[i] == ((i % _M) * _K) % _M


def test_lang_quality_boundary_verdicts(spark):
    """Hand-computed verdicts for every LANG_BOUNDARY_CASES entry: marker
    argmax ties break alphabetically, the length band is [20, 5000], the
    punct band is (0, 0.2) strict, stopword density is 10*stops >= tokens."""
    import __spark_entry__ as E
    from osm_cycling_quality_index_spark.functions.text import (
        LANG_BOUNDARY_CASES,
    )

    n = len(LANG_BOUNDARY_CASES)
    rows = E.q_lang_quality(spark, SF01).collect()
    want = {
        0: ("en", 0.4),          # 16 chars: below the length band
        1: ("de", 0.7),          # 21 chars: in band + stopword density
        2: ("fr", 0.4),
        3: ("de", 0.4),          # 1-1-1 tie -> alphabetical winner
        4: ("unknown", 0.3),     # empty: length/punct 0, but the density
                                 # clause holds vacuously (0*10 >= 0)
        5: ("unknown", 0.1),     # no markers
        6: ("en", 1.0),          # len 20 + punct 0.1 + stopword density
        7: ("en", 0.4),          # len 19 just below the band
        8: ("unknown", 0.1),     # punct exactly 0.2 excluded
        9: ("unknown", 0.4),     # punct 0.1 included
        10: ("unknown", 0.1),    # len 5002 above the band
        11: ("unknown", 0.4),    # len 5000 top of band inclusive
        12: ("en", 0.7),         # 10 tokens, 1 stop -> density holds
        13: ("en", 0.4),         # 11 tokens, 1 stop -> density fails
    }
    assert set(want) == set(range(n))
    for r in rows:
        lang, q = want[r.doc_id % n]
        assert (r.lang, r.quality) == (lang, q), (r.doc_id % n, r.lang, r.quality)


def test_bpe_token_ids_consistent_with_counts(spark):
    """Per-doc id-sequence length == n_bpe_tokens, positions are dense
    0..n-1, and token ids are a dense 1..V alphabetical vocabulary."""
    import __spark_entry__ as E

    ids = E.q_bpe_token_ids(spark, SF).collect()
    counts = {
        r.doc_id: r.n_bpe_tokens for r in E.q_bpe_tokens(spark, SF).collect()
    }
    per_doc = {}
    for r in ids:
        per_doc.setdefault(r.doc_id, []).append(r.pos)
    for doc_id, poss in per_doc.items():
        assert sorted(poss) == list(range(len(poss)))
        assert len(poss) == counts[doc_id]
    # docs with zero tokens simply have no rows
    assert all(counts[d] == 0 for d in set(counts) - set(per_doc))
    toks = {r.token_id for r in ids}
    assert toks == set(range(1, len(toks) + 1))


def test_minhash_sketch_verify_accuracy(spark):
    """verify='sketch' (the fixed-payload scale path) against verify='exact'
    on the same corpus and candidate set: candidate generation is shared,
    so sketch can only re-rank within candidates.  The estimator is
    unbiased with 16 components, so on the sf0.001 fixture every strong
    exact pair must survive and weak false accepts stay bounded; both
    modes run in dictionary AND xxhash hashing."""
    from osm_cycling_quality_index_spark.operators.dedup import (
        minhash_lsh_pairs, release_session_pinned,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    for mode in ("dictionary", "xxhash"):
        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh_pairs(d, mode=mode,
                                       verify="exact").collect()
        }
        sketch = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh_pairs(d, mode=mode, verify="sketch").collect()
        }
        assert exact, "fixture must produce near-dup pairs"
        # strong true pairs (exact jaccard >= 0.7) all survive the sketch
        strong = {p for p, j in exact.items() if j >= 0.7}
        missed = strong - set(sketch)
        assert not missed, (mode, missed)
        # recall over ALL exact pairs at the same threshold stays high
        recall = len(set(exact) & set(sketch)) / len(exact)
        assert recall >= 0.8, (mode, recall)
        # sketch accepts only LSH candidates, and its estimates track the
        # exact value on the overlap (unbiased, 1/16 granularity)
        both = set(exact) & set(sketch)
        err = max(abs(exact[p] - sketch[p]) for p in both)
        assert err <= 0.35, (mode, err)
    release_session_pinned(spark)
    spark.catalog.clearCache()


def test_jaccard_ppjoin_matches_brute_force(spark):
    """The prefix-filtered + PPJoin-pruned jaccard operator returns
    EXACTLY the naive all-pairs answer — candidate completeness of the
    prefix/length/position filters, on an adversarial mix of lengths
    (including docs below the shingle minimum, exact duplicates, subset
    relations and near-boundary sizes), for both token kinds."""
    from osm_cycling_quality_index_spark.operators.dedup import (
        ngram_jaccard_pairs, release_session_pinned,
    )

    base = ["red green blue cyan", "red green blue cyan magenta",
            "one two three four five six seven eight",
            "alpha beta", "alpha", ""]
    rows = []
    for i in range(48):
        t = base[i % len(base)]
        if i % 5 == 0:
            t = t + f" extra{i % 7} pad{i % 3} tail"
        if i % 11 == 0:
            t = "zz " + t
        rows.append((i, t))
    sdf = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    # 0.8 and 0.55 are the ADVICE-r5 regression thresholds: their double
    # representation sits ABOVE the decimal, so an unslacked
    # ceil(t*n) lands one high (fl(0.8)*5 -> ceil 5) and shortens the
    # prefix — the 4-token/5-token subset pair in the fixture (J = 0.8
    # exactly) is dropped without the 1e-9 slack
    for kind, thr in (("word", 0.5), ("shingle", 0.5), ("word", 0.7),
                      ("word", 0.8), ("word", 0.55)):
        def toks(t):
            ws = [w for w in t.lower().split(" ") if w != ""]
            if kind == "word":
                return set(ws)
            allw = t.lower().split(" ")
            return {" ".join(allw[j:j + 3]) for j in range(len(allw) - 2)
                    if " ".join(allw[j:j + 3]) != ""} if len(allw) >= 3 else set()

        want = set()
        for i, ti in rows:
            for j, tj in rows:
                if i >= j:
                    continue
                a, b = toks(ti), toks(tj)
                c = len(a & b)
                u = len(a | b)
                if u and c / u >= thr:
                    want.add((i, j, c, round(c / u, 6)))
        got = {
            (r.doc_a, r.doc_b, r.common, r.jaccard)
            for r in ngram_jaccard_pairs(sdf, threshold=thr, kind=kind).collect()
        }
        assert got == want, (kind, thr, got ^ want)

    # Targeted ADVICE-r5 regression (the small-n grid above never trips
    # it): at t=0.55, n=100, fl(0.55)*100 = 55.000000000000007, so an
    # unslacked ceil gives 56 and the prefix is one token short.  x has
    # 45 private tokens (df=1, ranked first) + 55 shared (df=2); y is
    # exactly the shared set, J = 55/100 = 0.55.  The ONLY prefix
    # overlap is the 46th token of x ("b01") — present iff the slack is
    # applied.  The length filter crosses the same boundary
    # (0.55*100 <= 55), covering its slack too.
    x = " ".join([f"a{i:02d}" for i in range(1, 46)]
                 + [f"b{i:02d}" for i in range(1, 56)])
    y = " ".join(f"b{i:02d}" for i in range(1, 56))
    sdf2 = spark.createDataFrame([(0, x), (1, y)],
                                 "doc_id BIGINT, text STRING")
    got = [(r.doc_a, r.doc_b, r.common)
           for r in ngram_jaccard_pairs(sdf2, threshold=0.55,
                                        kind="word").collect()]
    assert got == [(0, 1, 55)], got
    release_session_pinned(spark)
    spark.catalog.clearCache()


def test_hamming_groups_value_path_equals_pair_path(spark):
    """hamming_groups (value-collapsed CC) is bit-identical to
    dedup_groups over hamming_near_pairs on two corpus shapes: (a) the
    sf0.01 image fixture, whose signatures are nearly all distinct — the
    collapse's degenerate worst case — and (b) an exact-dup-heavy corpus
    where every value repeats ~20x (the realistic re-encode case the
    collapse exists for), cross-checked against a python union-find over
    the brute-force pair set."""
    import __spark_entry__ as E
    from osm_cycling_quality_index_spark.operators import dedup

    def groups(df):
        return sorted(
            (r.image_id, r.group_id, r.n_members, r.is_keeper)
            for r in df.collect()
        )

    release = []

    # (a) fixture: near-all-distinct values
    img = E._images_phash(spark, SF01)
    pairs = dedup.hamming_near_pairs(
        img, "image_id", "phash", bits=64, max_hamming=6,
        out_a="img_a", out_b="img_b",
    )
    pair_path = groups(dedup.dedup_groups(
        img, pairs, id_col="image_id", a="img_a", b="img_b",
        release=release,
    ))
    val_path = groups(dedup.hamming_groups(
        img, "image_id", "phash", bits=64, max_hamming=6, release=release,
    ))
    assert pair_path == val_path

    # (b) exact-dup-heavy: 20 distinct values x ~20 members each, values
    # chained into hamming clusters (so groups span several values)
    rows = []
    vid = 0
    for c in range(5):
        base = (c * 0x9E3779B97F4A7C15) & _M64
        for v in range(4):
            val = base ^ ((1 << (3 * v)) - 1)  # 0,3,6,9 bits from base
            for m in range(20 - v):
                rows.append((vid, val))
                vid += 1
    null_ids = [900, 901]  # NULL signatures: unpairable, one singleton EACH
    sdf = spark.createDataFrame(
        [(i, _signed(h)) for i, h in rows] + [(i, None) for i in null_ids],
        "image_id BIGINT, phash BIGINT"
    ).persist()
    pair_truth = groups(dedup.dedup_groups(
        sdf,
        dedup.hamming_near_pairs(sdf, "image_id", "phash", bits=64,
                                 max_hamming=6, out_a="img_a", out_b="img_b"),
        id_col="image_id", a="img_a", b="img_b", release=release,
    ))
    got = groups(dedup.hamming_groups(
        sdf, "image_id", "phash", bits=64, max_hamming=6, release=release,
    ))
    assert got == pair_truth
    sdf.unpersist()
    # python union-find truth over the brute-force pair set
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in _brute_pairs(rows, 6):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for i, _ in rows:
        comp.setdefault(find(i), []).append(i)
    want = sorted(
        [(i, min(members), len(members), int(i == min(members)))
         for members in comp.values() for i in members]
        + [(i, i, 1, 1) for i in null_ids]
    )
    assert got == want

    # (c) component-label namespace collision: rows (10, phash=7) and
    # (11, phash=7) give the value component the label 7 (hash-value
    # space); row (7, NULL) labels itself 7 in ID space.  Untagged
    # labels merged the NULL row into the phash-7 family (review
    # finding); the struct-tagged _comp keeps the namespaces apart.
    cdf = spark.createDataFrame(
        [(10, 7), (11, 7), (7, None)], "image_id BIGINT, phash BIGINT"
    )
    got_c = groups(dedup.hamming_groups(
        cdf, "image_id", "phash", bits=64, max_hamming=6, release=release,
    ))
    assert got_c == [(7, 7, 1, 1), (10, 10, 2, 1), (11, 10, 2, 0)]
    for cb in release:
        cb()
    spark.catalog.clearCache()


def test_minhash_groups_collapse_equals_pair_path(spark):
    """minhash_groups (exact-duplicate collapse) is bit-identical to
    dedup_groups over minhash_lsh_pairs on (a) the sf0.01 documents
    fixture and (b) a dup-heavy corpus with the short-text edge cases the
    collapse must NOT merge: identical 2-word texts, empty and NULL texts
    (all singletons in the pair path — fewer than 3 whitespace tokens
    produce no shingles), plus identical and near-dup eligible texts."""
    from osm_cycling_quality_index_spark.operators import dedup

    def groups(df):
        return sorted(
            (r.doc_id, r.group_id, r.n_members, r.is_keeper)
            for r in df.collect()
        )

    release = []

    docs = spark.read.parquet(f"{SF01}/documents.parquet").select(
        "doc_id", "text"
    ).persist()
    pair_path = groups(dedup.dedup_groups(
        docs, dedup.minhash_lsh_pairs(docs), release=release,
    ))
    val_path = groups(dedup.minhash_groups(docs, release=release))
    assert pair_path == val_path
    docs.unpersist()

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the woods tonight")
    near = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the woods tomorrow")
    rows = []
    for i in range(30):
        rows.append((i, base))           # 30 exact copies
    for i in range(30, 40):
        rows.append((i, near))           # near-dups of the base family
    for i in range(40, 50):
        rows.append((i, "hello world"))  # identical but shingle-less
    rows += [(50, ""), (51, ""), (52, None), (53, None), (54, "one"),
             (55, "totally different text with many extra words here "
                  "that overlap nothing else at all in this corpus")]
    sdf = spark.createDataFrame(rows, "doc_id BIGINT, text STRING").persist()
    pair_path = groups(dedup.dedup_groups(
        sdf, dedup.minhash_lsh_pairs(sdf), release=release,
    ))
    val_path = groups(dedup.minhash_groups(sdf, release=release))
    assert pair_path == val_path
    # the shingle-less identical texts must all be singletons
    singles = [r for r in val_path if r[0] in range(40, 55)]
    assert all(n == 1 and k == 1 and g == d for d, g, n, k in singles)
    # the exact+near family collapses into one 40-member group
    fam = [r for r in val_path if r[0] < 40]
    assert all(g == 0 and n == 40 for _, g, n, _ in fam)
    sdf.unpersist()
    for cb in release:
        cb()
    dedup.release_session_pinned(spark)
    spark.catalog.clearCache()


def test_embedding_groups_collapse_equals_pair_path(spark):
    """embedding_groups (exact-duplicate collapse) is bit-identical to
    dedup_groups over embedding_near_dups on (a) the sf0.01 embeddings
    fixture and (b) a corpus with duplicated vectors plus the edge rows:
    NULL embeddings (the bucket equi-join drops the NULL key) and
    identical zero vectors (no defined cosine; ANSI mode would throw on
    the division, so embedding_near_dups excludes them) — all of which
    must stay singletons in both paths."""
    from osm_cycling_quality_index_spark.operators import dedup

    def groups(df):
        return sorted(
            (r.vec_id, r.group_id, r.n_members, r.is_keeper)
            for r in df.collect()
        )

    release = []

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).persist()
    pair_path = groups(dedup.dedup_groups(
        emb, dedup.embedding_near_dups(emb, threshold=0.3),
        id_col="vec_id", a="vec_a", b="vec_b", release=release,
    ))
    val_path = groups(dedup.embedding_groups(
        emb, threshold=0.3, release=release,
    ))
    assert pair_path == val_path
    emb.unpersist()

    base = [float(i % 7) - 3.0 for i in range(16)]
    near = list(base); near[0] += 0.01
    far = [float((i * 31) % 11) - 5.0 for i in range(16)]
    rows = []
    for i in range(20):
        rows.append((i, base))            # 20 exact copies
    for i in range(20, 25):
        rows.append((i, near))            # near-dups of the base family
    for i in range(25, 30):
        rows.append((i, far))             # separate exact-dup family
    null_elem = list(base); null_elem[3] = None
    rows += [(30, [0.0] * 16), (31, [0.0] * 16),   # identical zero vectors
             (32, None), (33, None),               # NULL embeddings
             # NULL ELEMENT: sumsq aggregates to NULL -> the eligibility
             # predicate is NULL unless coalesced, and the row would
             # vanish from BOTH collapse branches (ADVICE r5 medium)
             (34, null_elem)]
    sdf = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).persist()
    pair_path = groups(dedup.dedup_groups(
        sdf, dedup.embedding_near_dups(sdf, threshold=0.3),
        id_col="vec_id", a="vec_a", b="vec_b", release=release,
    ))
    val_path = groups(dedup.embedding_groups(
        sdf, threshold=0.3, release=release,
    ))
    assert pair_path == val_path
    by_id = {d: (g, n) for d, g, n, _ in val_path}
    assert by_id[0] == (0, 25)            # base + near family collapses
    assert by_id[25] == (25, 5)           # far family separate
    # zero-norm, NULL and NULL-element rows are unpairable -> singletons
    # in both paths (and present in both: one row per corpus row)
    for v in (30, 31, 32, 33, 34):
        assert by_id[v] == (v, 1)
    assert len(val_path) == len(rows)
    sdf.unpersist()
    for cb in release:
        cb()
    dedup.release_session_pinned(spark)
    spark.catalog.clearCache()


def test_minhash_groups_collapse_sketch_mode_parity(spark):
    """The collapse argument is verify-mode-independent (banding AND both
    verifies are functions of the text value), so the 100-TB configuration
    — verify='sketch', mode='xxhash' — must also be bit-identical between
    the pair path and minhash_groups."""
    from osm_cycling_quality_index_spark.operators import dedup

    def groups(df):
        return sorted(
            (r.doc_id, r.group_id, r.n_members, r.is_keeper)
            for r in df.collect()
        )

    release = []
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the woods tonight")
    rows = [(i, base) for i in range(15)]
    rows += [(i, f"doc {i} body with shared tokens {i % 3} and tail {i}")
             for i in range(15, 40)]
    rows += [(40, "tiny"), (41, None)]
    sdf = spark.createDataFrame(rows, "doc_id BIGINT, text STRING").persist()
    kw = dict(mode="xxhash", verify="sketch")
    pair_path = groups(dedup.dedup_groups(
        sdf, dedup.minhash_lsh_pairs(sdf, **kw), release=release,
    ))
    val_path = groups(dedup.minhash_groups(sdf, release=release, **kw))
    assert pair_path == val_path
    assert [r for r in val_path if r[0] == 0][0][2] == 15  # base family
    sdf.unpersist()
    for cb in release:
        cb()
    dedup.release_session_pinned(spark)
    spark.catalog.clearCache()
