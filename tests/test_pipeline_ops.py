"""Training-data pipeline operators: dedup families, ANN, text
analysis, multimodal plumbing, lineage/resume — checked against brute
force NumPy or DuckDB oracles on the driver test tables."""

from __future__ import annotations

import itertools
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import pyspark.sql.functions as F

from esri_dump_spark.operators import dedup as D
from esri_dump_spark.operators import text as X
from esri_dump_spark.operators import ann as A
from esri_dump_spark.operators import multimodal as M
from esri_dump_spark.operators import lineage as L
from esri_dump_spark.sources.fixtures import images_pdf


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = [
        "the quick brown fox jumps over the lazy dog and runs away fast",
        "a completely different sentence about amber harbors and misty dunes",
        "spark engines shuffle data across executors with hash partitioning",
        "der schnelle braune fuchs springt und ist nicht langsam heute",
        "le chat est sur la table et les oiseaux chantent une chanson",
    ]
    rows = []
    i = 0
    for b in base:
        for rep in range(3):  # 3 near-identical copies of each
            text = b if rep == 0 else b + f" extra{rep}"
            rows.append({"doc_id": i, "text": text})
            i += 1
    # plus genuinely distinct rows (no shared phrasing)
    distinct = [
        "glaciers calve enormous icebergs into turquoise fjords",
        "quantum annealers minimize ising hamiltonians probabilistically",
        "sourdough fermentation depends on wild lactobacillus cultures",
        "violin varnish recipes were guarded by cremonese luthiers",
        "tectonic subduction zones generate megathrust earthquakes",
        "mycorrhizal networks trade phosphorus for photosynthates",
        "cuneiform tablets recorded barley loans in ancient sumer",
        "pulsar timing arrays detect nanohertz gravitational waves",
        "monarch butterflies navigate using a time compensated sun compass",
        "zeolite catalysts crack long hydrocarbons into gasoline fractions",
    ]
    for t in distinct:
        rows.append({"doc_id": i, "text": t})
        i += 1
    return spark.createDataFrame(pd.DataFrame(rows))


def test_exact_dedup_by_hash(spark):
    pdf = pd.DataFrame({"doc_id": [3, 1, 2, 5, 4],
                        "text": ["a", "a", "b", "b", "c"]})
    out = D.exact_dedup_by_hash(spark.createDataFrame(pdf), "text", "doc_id")
    got = {(r.doc_id, r.text) for r in out.collect()}
    assert got == {(1, "a"), (2, "b"), (4, "c")}  # min id per content


def test_minhash_lsh_finds_near_dups(docs_with_dups):
    pairs = D.minhash_lsh_pairs(docs_with_dups, "doc_id", "text",
                                threshold=0.5).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # each triple (3k, 3k+1, 3k+2) should connect
    for k in range(5):
        base = 3 * k
        assert any((base, x) in found for x in (base + 1, base + 2)), \
            f"cluster {k} not found: {sorted(found)}"
    # jaccard estimates near 1 for true dups
    ests = [r.est_jaccard for r in pairs if r.id_b - r.id_a <= 2
            and r.id_a // 3 == r.id_b // 3]
    assert ests and min(ests) > 0.5


def test_minhash_dedup_removes_copies(docs_with_dups):
    out = D.minhash_dedup(docs_with_dups, "doc_id", "text", threshold=0.5)
    n = out.count()
    # 5 clusters collapse to 1 representative each + 10 unique = 15
    assert n == 15
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert all(3 * k in kept for k in range(5))  # min id survives


def test_simhash_pairs(docs_with_dups):
    pairs = D.simhash_pairs(docs_with_dups, "doc_id", "text",
                            max_hamming=8).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    hits = sum(1 for k in range(5)
               if any((3 * k, x) in found for x in (3 * k + 1, 3 * k + 2)))
    assert hits >= 4  # simhash is lossier than minhash; most clusters found


def test_ngram_jaccard_matches_brute_force(spark):
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["the cat sat on the mat today",
                 "the cat sat on the mat yesterday",
                 "dogs run in the park",
                 "dogs run in the park often"],
    })
    got = {(r.id_a, r.id_b): r.jaccard
           for r in D.ngram_jaccard_pairs(spark.createDataFrame(pdf),
                                          "doc_id", "text", n=2,
                                          threshold=0.3).collect()}

    def grams(t, n=2):
        ws = t.lower().split()
        return {" ".join(ws[i:i + n]) for i in range(max(len(ws) - n + 1, 1))}

    exp = {}
    for a, b in itertools.combinations(range(4), 2):
        ga, gb = grams(pdf.text[a]), grams(pdf.text[b])
        j = len(ga & gb) / len(ga | gb)
        if j >= 0.3:
            exp[(a, b)] = j
    assert set(got) == set(exp)
    for k in got:
        assert got[k] == pytest.approx(exp[k])

    # two NULL-text docs must NOT pair via a manufactured '' gram
    # (the SQL twin's NULL text propagates to zero gram rows)
    withnull = spark.createDataFrame(
        pd.concat([pdf, pd.DataFrame(
            {"doc_id": [8, 9], "text": [None, None]})]))
    got_n = {(r.id_a, r.id_b) for r in
             D.ngram_jaccard_pairs(withnull, "doc_id", "text", n=2,
                                   threshold=0.3).collect()}
    assert got_n == set(exp)


def test_embedding_near_dup(spark):
    rng = np.random.default_rng(42)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append({"vec_id": 2 * i, "embedding": v.tolist()})
        dup = v + rng.standard_normal(16).astype(np.float32) * 0.01
        rows.append({"vec_id": 2 * i + 1, "embedding": dup.tolist()})
    df = spark.createDataFrame(pd.DataFrame(rows))
    pairs = D.embedding_near_dup(df, "vec_id", "embedding",
                                 threshold=0.98, bands=8, rows_per_band=4)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    # perturbed twins are near-parallel (theta ~ 0): every band key
    # matches with p ~ 1, so the OR-construction finds essentially all
    hits = sum(1 for i in range(20) if (2 * i, 2 * i + 1) in found)
    assert hits >= 18
    # no false positives vs brute force at the same threshold
    for a, b in found:
        va = np.array(rows[a]["embedding"]); vb = np.array(rows[b]["embedding"])
        cos = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
        assert cos >= 0.98 - 1e-6


def test_embedding_lsh_recall_vs_exact(spark):
    """The OR-of-ANDs recall bound near the threshold — the regime
    where the old single AND-only bucket collapsed. 16 bands x 4
    planes at threshold 0.45: expected recall 1-(1-p^4)^16 ~ 0.96
    (p = 1 - theta/pi ~ 0.65); assert >= 0.9 against the exact
    cosine_pairs twin on the sf0.001 embeddings fixture."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in D.cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45).collect()}
    lsh = {(r.id_a, r.id_b) for r in D.embedding_near_dup(
        emb, "vec_id", "embedding", threshold=0.45,
        bands=16, rows_per_band=4).collect()}
    assert lsh <= exact          # verification stage: no false positives
    assert exact, "fixture must contain threshold pairs"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} ({len(lsh)}/{len(exact)})"


def test_component_min_labels_beats_one_hop(spark):
    """The counterexample where one-hop dedup keeps two survivors:
    edges B-E and D-E with B < D < E. Component = {B, D, E}; one hop
    removes only E (the only larger-side id), while connected-component
    labels keep exactly the minimum B."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2], "id_b": [5, 5]}))  # B=1,D=2,E=5
    labels = {(r.id, r.rep) for r in
              D.component_min_labels(pairs).collect()}
    assert labels == {(1, 1), (2, 1), (5, 1)}

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 5],
        "text": ["x", "y", "z"],
    }))
    one_hop_losers = {5}
    survivors_one_hop = {1, 2}          # the documented shortfall
    survivors_cc = {r.doc_id for r in docs.join(
        spark.createDataFrame(pd.DataFrame({"doc_id": [2, 5]})),
        "doc_id", "left_anti").collect()}
    assert survivors_cc == {1}
    assert survivors_one_hop != survivors_cc  # the hole is real


def test_chain_cluster_single_survivor(spark):
    """A 4-link chain A-B-C-D collapses to A under connected labels."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [10, 20, 30], "id_b": [20, 30, 40]}))
    labels = {(r.id, r.rep) for r in
              D.component_min_labels(pairs).collect()}
    assert labels == {(10, 10), (20, 10), (30, 10), (40, 10)}


def test_block_lsh_lossless_auto_blocks(spark):
    """The multi-index plan scales so the pigeonhole guarantee holds
    for the requested hamming budget: a pair whose differing bits land
    in every 4-bit-era chunk must still be found, and the C(m, r)
    fan-out stays bounded (row replication per input = table count)."""
    from math import comb
    from esri_dump_spark.operators.dedup import _multi_index_plan
    for bits, k in ((60, 3), (60, 10), (64, 6), (64, 8), (60, 12)):
        widths, subs = _multi_index_plan(bits, k)
        r = len(subs[0])
        assert len(widths) == k + r                    # pigeonhole form
        assert len(subs) == comb(k + r, r) <= 256      # bounded fan-out
    # construct a phash pair at hamming 6 spread over all 4 of the old
    # 16-bit chunks — a 4-block split would miss it; the plan finds it
    h1 = 0
    h2 = (1 | (1 << 10) | (1 << 20) | (1 << 30) |
          (1 << 45) | (1 << 60))
    pdf = pd.DataFrame({"image_id": ["a", "b"],
                        "phash": np.array([h1, h2], dtype=np.int64)})
    df = spark.createDataFrame(pdf)
    found = D.phash_near_dup(df, max_hamming=6).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in found] == [("a", "b", 6)]


def test_component_min_labels_long_chain_fixpoint(spark):
    """A chain far beyond any per-round reach must still converge to
    ONE survivor — the round-2 code exited silently with labels still
    moving and kept multiple survivors. With pointer jumping the round
    count is O(log diameter), so a 300-node chain converges in ~9
    rounds instead of ~300."""
    N = 300
    pairs = spark.createDataFrame([(i, i + 1) for i in range(N)],
                                  "id_a long, id_b long")
    labels = D.component_min_labels(pairs)
    reps = {r.rep for r in labels.collect()}
    assert reps == {0}
    # non-convergence within the safety cap raises instead of
    # returning a wrong labeling (3 doubling rounds cannot span a
    # 300-node chain)
    import pytest
    with pytest.raises(RuntimeError):
        D.component_min_labels(pairs, max_iter=3)


def test_multi_index_plan_wide_keys_at_high_hamming():
    """Scale guard (VERDICT r2): at max_hamming=8 the candidate key
    space must stay >= 2^16 — the old single-block split fell to
    4-bit chunks (16 distinct values -> quadratic buckets at 1e9+
    rows). The C(m, r) multi-index keeps keys wide AND lossless."""
    from esri_dump_spark.operators.dedup import (_multi_index_plan,
                                                 _block_widths)
    widths, subsets = _multi_index_plan(64, 8)
    r = len(subsets[0])
    assert sum(widths) == 64
    assert len(widths) == 8 + r              # m = max_hamming + r
    # every table's key is the concatenation of r blocks: worst-case
    # key width (r narrowest blocks) must give >= 2^16 cardinality
    assert sum(sorted(widths)[:r]) >= 16
    # all r-subsets are enumerated -> generalized pigeonhole lossless
    from math import comb
    assert len(subsets) == comb(len(widths), r)
    # default budget keeps the classic cheap plan: 4 x 15-bit blocks
    w3, s3 = _multi_index_plan(60, 3)
    assert w3 == [15, 15, 15, 15] and len(s3) == 4 and len(s3[0]) == 1
    assert _block_widths(60, 11) == [6] * 5 + [5] * 6


def test_multi_index_plan_lossless_property():
    """Property (hypothesis): for ANY hamming budget and bit width,
    every pair within the budget shares at least one candidate table
    key — the generalized-pigeonhole guarantee the scale path rests
    on. Checked directly on the plan arithmetic (no Spark)."""
    from hypothesis import given, settings, strategies as st
    from esri_dump_spark.operators.dedup import _multi_index_plan

    @settings(max_examples=120, deadline=None)
    @given(st.integers(0, 2 ** 63 - 1), st.integers(1, 12),
           st.integers(0, 2 ** 31), st.sampled_from([60, 64]))
    def check(base, k, seed, total_bits):
        import random
        rng = random.Random(seed)
        base &= (1 << total_bits) - 1
        widths, subsets = _multi_index_plan(total_bits, k)
        offsets = [sum(widths[:j]) for j in range(len(widths))]
        # flip exactly k bits (worst case for the budget)
        flips = rng.sample(range(total_bits), k)
        other = base
        for b in flips:
            other ^= 1 << b

        def keys(h):
            blocks = [(h >> offsets[j]) & ((1 << widths[j]) - 1)
                      for j in range(len(widths))]
            out = []
            for si, sub in enumerate(subsets):
                acc = blocks[sub[0]]
                for j in sub[1:]:
                    acc = acc * (1 << widths[j]) + blocks[j]
                out.append((si, acc))
            return set(out)

        assert keys(base) & keys(other), (
            f"pair at hamming {k} missed by the multi-index")

    check()


def test_phash_multi_index_lossless_at_hamming8(spark):
    """Brute-force parity of the shared hamming join: every pair within
    the budget found, none beyond it, on adversarial bit spreads — at
    the 64-bit phash budget 8 (the C(m, r) multi-index, also through
    ``phash_near_dup``) and at the 60-bit simhash budgets 3 (one block
    per key) and 8 (multi-index)."""
    for bits, k in ((64, 8), (60, 3), (60, 8)):
        rng = np.random.default_rng(17)
        mask = (1 << bits) - 1
        base = int(rng.integers(0, 2 ** 62)) & mask
        # spread k flips across the whole word to defeat any single
        # narrow block, plus a control one flip outside the budget
        flips = [round(i * (bits - 1) / (k - 1)) for i in range(k)]
        near = base
        for b in flips:
            near ^= 1 << b
        far = near ^ (1 << next(b for b in range(bits) if b not in flips))
        rows = [("r0", base), ("r1", near), ("r2", far)]
        rows += [(f"n{i:02d}", int(rng.integers(0, 2 ** 62)) & mask)
                 for i in range(40)]              # background noise
        pdf = pd.DataFrame(
            [(i, h - (1 << 64) if h >> 63 else h) for i, h in rows],
            columns=["image_id", "phash"]).astype({"phash": np.int64})
        df = spark.createDataFrame(pdf)
        got = {tuple(r) for r in D._hamming_pairs(
            df, "image_id", "phash", bits, k).collect()}
        # brute force oracle
        exp = set()
        for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
            d = bin(ha ^ hb).count("1")
            if d <= k:
                exp.add((*sorted((ia, ib)), d))
        assert got == exp, (bits, k)
        assert ("r0", "r1", k) in got, (bits, k)
        if bits == 64:
            assert {tuple(r) for r in D.phash_near_dup(
                df, max_hamming=k).collect()} == exp


def test_clean_corpus_stages(spark):
    """Each stage bites on a constructed corpus: the junk row falls to
    the quality gate, the verbatim copy to exact dedup, the near-copy
    to MinHash; clean distinct rows survive."""
    from esri_dump_spark.operators.pipeline import clean_corpus
    good = ("the quick brown fox jumps over the lazy dog near the "
            "river bank while the sun sets slowly behind the hills")
    near = good.replace("slowly", "gently")
    other = ("completely unrelated content about numerical linear "
             "algebra and the convergence of iterative solvers on "
             "sparse symmetric positive definite systems")
    junk = "!!! ??? !!! ??? !!! ??? !!! ??? !!! ???"
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4],
        "text": [good, good, near, other, junk],
    })
    out = clean_corpus(spark.createDataFrame(pdf), min_quality=0.5,
                       jaccard_threshold=0.5)
    assert {r.doc_id for r in out.collect()} == {0, 3}


def test_clean_images_gate_and_dedup(spark):
    """The invariant gate drops a corrupted row (stored phash disagrees
    with the decoded pixels); survivors equal the phash-near-dup
    min-id representatives of the gated set."""
    from esri_dump_spark.operators.pipeline import clean_images
    from esri_dump_spark.sources.fixtures import images_pdf
    pdf = images_pdf(30, with_geo=False).copy()
    # corrupt one stored phash -> that row fails the invariant gate
    pdf.loc[2, "phash"] = ~pdf.loc[2, "phash"]
    corrupted = pdf.loc[2, "image_id"]
    df = spark.createDataFrame(pdf)

    out = clean_images(df, max_phash_hamming=6)
    got = {r.image_id for r in out.select("image_id").collect()}
    assert corrupted not in got

    # expected: gated set minus phash-LSH losers (composition check)
    kept = df.filter(df.image_id != corrupted)
    losers = {r.id_b for r in
              D.phash_near_dup(kept, max_hamming=6).collect()}
    exp = {r.image_id for r in kept.collect()} - losers
    assert got == exp
    assert got  # something survives


def test_crossmodal_consensus_dedup(spark):
    """Only pairs that duplicate in BOTH modalities survive: same
    pixels + same caption yes; same caption w/ different image no;
    same image w/ different caption no."""
    from esri_dump_spark.kernels.image import average_phash
    rng = np.random.default_rng(9)
    base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    other = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    cap = "a photo of a dog on a beach at sunset with golden light"
    alt = "completely different text about quarterly financial results"
    rows = [
        # ids 0,1: true duplicate (same image, same caption)
        {"image_id": 0, "phash": average_phash(base), "caption": cap},
        {"image_id": 1, "phash": average_phash(base), "caption": cap},
        # id 2: same caption, unrelated image
        {"image_id": 2, "phash": average_phash(other), "caption": cap},
        # id 3: same image, unrelated caption
        {"image_id": 3, "phash": average_phash(base), "caption": alt},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {(r.id_a, r.id_b) for r in
           D.crossmodal_near_dup(df, max_phash_hamming=4,
                                 max_caption_hamming=4).collect()}
    assert got == {(0, 1)}


def test_ivf_recall_and_exhaustive_exactness(spark):
    """nprobe == n_centroids must reproduce the exact top-k (every
    bucket probed); partial probing keeps useful recall."""
    from esri_dump_spark.operators import ann as A
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = (emb.orderBy("vec_id").limit(10)
               .selectExpr("vec_id AS query_id", "embedding"))
    exact = {(r.query_id, r.rank): r.vec_id for r in
             A.cosine_topk(queries, emb, k=5).collect()}
    full = {(r.query_id, r.rank): r.vec_id for r in
            A.ivf_topk(queries, emb, k=5, n_centroids=8,
                       nprobe=8).collect()}
    assert full == exact
    # set-based recall for partial probing (rank positions shuffle
    # when a miss displaces the tail; membership is the honest metric)
    from collections import defaultdict
    ex_sets, pa_sets = defaultdict(set), defaultdict(set)
    for (qid, _), v in exact.items():
        ex_sets[qid].add(v)
    for r in A.ivf_topk(queries, emb, k=5, n_centroids=8,
                        nprobe=3).collect():
        pa_sets[r.query_id].add(r.vec_id)
    hits = sum(len(ex_sets[q] & pa_sets[q]) for q in ex_sets)
    total = sum(len(s) for s in ex_sets.values())
    # fixture embeddings are near-uniform — the worst case for IVF;
    # 3/8 buckets still has to find ~half the true neighbors
    assert hits / total >= 0.4, f"recall {hits}/{total}"


def test_ngram_jaccard_max_df_exact_values(spark):
    """Capped candidate generation must re-count Jaccard over the FULL
    gram sets: any pair it reports carries the exact uncapped value."""
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["the cat sat on the mat today",
                 "the cat sat on the mat yesterday",
                 "dogs run in the park",
                 "dogs run in the park often"],
    })
    df = spark.createDataFrame(pdf)
    full = {(r.id_a, r.id_b): r.jaccard
            for r in D.ngram_jaccard_pairs(df, "doc_id", "text", n=2,
                                           threshold=0.3).collect()}
    capped = {(r.id_a, r.id_b): r.jaccard
              for r in D.ngram_jaccard_pairs(df, "doc_id", "text", n=2,
                                             threshold=0.3,
                                             max_df=3).collect()}
    # max_df=3 excludes no gram shared by a pair here -> identical
    assert capped == full
    # a cap of 1 kills all candidate grams shared by >= 2 docs: recall
    # bound bites, but values (none here) would still be exact
    none = D.ngram_jaccard_pairs(df, "doc_id", "text", n=2,
                                 threshold=0.3, max_df=1).collect()
    assert none == []


def test_phash_near_dup_on_images(spark):
    """Structured images (gradients) whose phash is stable under small
    noise: every noisy twin must pair with its original; unrelated
    gradients must not all collide."""
    from esri_dump_spark.kernels.image import average_phash
    rng = np.random.default_rng(1)
    rows = []
    for i in range(10):
        yy, xx = np.mgrid[0:32, 0:32]
        px = np.stack([
            ((yy * (3 + i)) % 256), ((xx * (5 + 2 * i)) % 256),
            ((yy + xx) * (2 + i) % 256)], axis=2).astype(np.uint8)
        noisy = (px.astype(np.int16)
                 + rng.integers(-2, 3, px.shape)).clip(0, 255).astype(np.uint8)
        rows.append({"image_id": f"orig{i:08d}", "phash": average_phash(px)})
        rows.append({"image_id": f"twin{i:08d}", "phash": average_phash(noisy)})
    pairs = D.phash_near_dup(spark.createDataFrame(pd.DataFrame(rows)),
                             max_hamming=6)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    hits = sum(1 for i in range(10)
               if (f"orig{i:08d}", f"twin{i:08d}") in found)
    assert hits >= 8
    # not everything pairs with everything
    assert len(found) < 190


def test_phash_cluster_dedup_matches_union_find(spark):
    """Exactly one survivor — the min id — per connected component,
    verified against a driver-side union-find over the SAME pair set
    (candidate gen is lossless, so the pair graph is exact). Includes
    a chained component (A~B~C without A-C edge) where one-hop
    dropping would keep 2 survivors."""
    base = 0x0123456789ABCDEF
    rows = [("a", base), ("b", base ^ 0b11), ("c", (base ^ 0b11) ^ 0b1100),
            ("d", base ^ ((1 << 63) - 1 - 0xFF)),  # far from everything
            ("e", base ^ (0b111 << 40))]           # pairs with a only
    pdf = pd.DataFrame(rows, columns=["image_id", "phash"])
    pdf["phash"] = pdf["phash"].astype(np.int64)
    df = spark.createDataFrame(pdf)
    pairs = D.phash_near_dup(df, max_hamming=4).collect()
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i for i, _ in rows if find(i) == i}
    got = {r.image_id
           for r in D.phash_cluster_dedup(df, max_hamming=4).collect()}
    assert got == expected
    # the fixture exercises a real chain: a~b (hamming 2), b~c
    # (hamming 2), a~c (hamming 4) and a~e — one component {a,b,c,e}
    assert got == {"a", "d"}


def test_cosine_topk_matches_duckdb(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.orderBy("vec_id").limit(3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    got = A.cosine_topk(queries, emb, k=5).collect()

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    oracle = con.sql("""
        WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings
                   ORDER BY vec_id LIMIT 3)
        SELECT qid, vec_id, rk FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC,
                            e.vec_id) rk
          FROM q CROSS JOIN embeddings e) WHERE rk <= 5
    """).fetchall()
    exp = {(r[0], r[2]): r[1] for r in oracle}
    assert {(r.query_id, r.rank): r.vec_id for r in got} == exp


def test_ivf_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    queries = (emb.orderBy("vec_id").limit(10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = A.cosine_topk(queries, emb, k=10)
    approx = A.ivf_topk(queries, emb, k=10, n_centroids=8, nprobe=4)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"IVF recall {recall}"
    emb.unpersist()


def test_text_ops_match_duckdb(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    out = X.fingerprint(
        X.language_id(X.quality_score(X.token_count(docs)))).select(
        "doc_id", "n_tokens", "n_chars_t", "n_words", "punct_ratio",
        "stop_ratio", "quality", "lang_pred", "fp")
    got = {r.doc_id: r.asDict() for r in out.collect()}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    q = X.quality_score_sql("text")
    sql = f"""
      SELECT doc_id, {X.token_count_sql('text')} n_tokens,
             {q['n_chars_t']} n_chars_t, {q['n_words']} n_words,
             {q['punct_ratio']} punct_ratio, {q['stop_ratio']} stop_ratio,
             {q['quality']} quality, {X.language_id_sql('text')} lang_pred,
             {X.fingerprint_sql('text')} fp
      FROM (SELECT * FROM documents LIMIT 300)
    """
    for rec in con.sql(sql).fetchall():
        doc_id = rec[0]
        g = got[doc_id]
        assert g["n_tokens"] == rec[1], (doc_id, "tokens", g["n_tokens"], rec[1])
        assert g["n_chars_t"] == rec[2]
        assert g["n_words"] == rec[3]
        assert g["punct_ratio"] == pytest.approx(rec[4])
        assert g["stop_ratio"] == pytest.approx(rec[5])
        assert g["quality"] == pytest.approx(rec[6])
        assert g["lang_pred"] == rec[7], (doc_id, g["lang_pred"], rec[7])
        assert g["fp"] == rec[8]


def test_repetition_signals_brute_force(spark):
    """Gopher repetition signals vs hand-computed values, including
    multi-line boilerplate, NULL text, word-less text, and the DuckDB
    twin over the same rows."""
    rows = [
        (1, "the cat sat on the mat"),           # 'the' twice -> dups
        (2, "buy now\nbuy now\nbuy now\nend"),   # 3 dup lines
        (3, "all unique words here"),            # clean
        (4, None),                               # NULL -> all NULL
        (5, "   "),                              # word-less
        (6, "a\x0bb a\x0bb"),                    # vertical tab: NOT a
                                                 # separator in either
                                                 # engine's class
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.asDict() for r in
           X.repetition_signals(df).collect()}
    # doc 1: 6 words, 5 distinct ('the' x2); top word 2/6
    assert got[1]["n_lines"] == 1
    assert got[1]["dup_word_frac"] == pytest.approx(round(1 - 5 / 6, 6))
    assert got[1]["top_word_frac"] == pytest.approx(round(2 / 6, 6))
    # doc 2: 4 lines, 2 distinct; 7 whitespace-split words
    # ('buy'/'now' x3 each — newlines must separate words)
    assert got[2]["n_lines"] == 4
    assert got[2]["dup_line_frac"] == pytest.approx(round(1 - 2 / 4, 6))
    assert got[2]["dup_word_frac"] == pytest.approx(round(1 - 3 / 7, 6))
    assert got[2]["top_word_frac"] == pytest.approx(round(3 / 7, 6))
    assert got[3]["dup_line_frac"] == 0.0
    assert got[3]["dup_word_frac"] == 0.0
    assert all(v is None for k, v in got[4].items()
               if k not in ("doc_id", "text"))
    # word-less doc: NO repetition evidence -> NULL fractions (not a
    # bogus 1.0 from the 1 - x/greatest(0,1) inversion)
    assert got[5]["n_lines"] == 0
    assert got[5]["dup_line_frac"] is None
    assert got[5]["dup_word_frac"] is None
    assert got[5]["top_word_frac"] is None
    # \x0B words: 2 words, 1 distinct -> the duplicate is visible
    # identically in both engines
    assert got[6]["dup_word_frac"] == pytest.approx(0.5)
    assert got[6]["top_word_frac"] == pytest.approx(1.0)

    con = duckdb.connect()
    con.sql("CREATE TABLE t (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    r = X.repetition_signals_sql("text")
    sql = f"""SELECT doc_id, {r['n_lines']} n_lines,
              {r['dup_line_frac']} dup_line_frac,
              {r['dup_word_frac']} dup_word_frac,
              {r['top_word_frac']} top_word_frac FROM t"""
    for rec in con.sql(sql).fetchall():
        g = got[rec[0]]
        assert g["n_lines"] == rec[1], rec
        for i, k in enumerate(("dup_line_frac", "dup_word_frac",
                               "top_word_frac"), start=2):
            if rec[i] is None:
                assert g[k] is None, (rec[0], k, g[k])
            else:
                assert g[k] == pytest.approx(rec[i]), (rec[0], k)


def test_text_fold_cross_engine_on_awkward_text(spark):
    """Every folding text operator and its DuckDB twin give equal
    rows on text where Unicode lower() diverges across engines (Java
    folds U+0130 to 'i'+U+0307 and a final capital sigma to U+03C2;
    Python's str.lower agrees with Java), where java's \\s and RE2's
    disagree (U+000B), and on NULL and shorter-than-n text."""
    awkward = [
        (1, "SPARK İstanbul spark merge"),     # dotted capital I
        (2, "ΟΔΟΣ ΣΑΣ σας"),                   # final capital sigma
        (3, "Straße STRASSE straße"),          # sharp s
        (4, "a\x0bb  C"),                      # vertical tab
        (5, "MiXeD Case ascii TEXT here"),     # mixed-case ASCII
        (6, None),
        (7, "ab"),                             # shorter than n
    ]
    df = spark.createDataFrame(awkward, "doc_id INT, text STRING")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        awkward, columns=["doc_id", "text"]))
    rep = X.repetition_signals_sql("text")
    k = 16
    mins = ", ".join(f"s{j}" for j in range(k))

    def norm(rows):
        return sorted(tuple(round(v, 9) if isinstance(v, float)
                            else tuple(v) if isinstance(v, list) else v
                            for v in r) for r in rows)

    pairs = {
        "word_grams": (
            D.word_grams(df, "doc_id", "text", 3),
            D.word_grams_sql(3)),
        "minhash": (
            D.minhash_signature(df, "text", num_hashes=k).select(
                "doc_id", "minhash"),
            f"WITH {D.minhash_sql_cte(num_hashes=k)} "
            f"SELECT doc_id, [{mins}] FROM _ms"),
        "simhash": (
            D.simhash(df, "text").select("doc_id", "simhash"),
            f"WITH {D.simhash_sql_cte()} SELECT doc_id, simhash FROM _sh"),
        "token_count": (
            X.token_count(df).select("doc_id", "n_tokens"),
            f"SELECT doc_id, {X.token_count_sql('text')} FROM documents"),
        "fingerprint": (
            X.fingerprint(df).select("doc_id", "fp"),
            f"SELECT doc_id, {X.fingerprint_sql('text')} FROM documents"),
        "repetition": (
            X.repetition_signals(df).drop("text"),
            f"SELECT doc_id, {rep['n_lines']}, {rep['dup_line_frac']},"
            f" {rep['dup_word_frac']}, {rep['top_word_frac']}"
            f" FROM documents"),
    }
    diffs = {}
    for name, (sdf, sql) in pairs.items():
        got = norm(tuple(r) for r in sdf.collect())
        exp = norm(con.sql(sql).fetchall())
        if got != exp:
            diffs[name] = sorted(set(got) ^ set(exp), key=str)
    assert not diffs, diffs


def test_whole_word_counts_cross_engine(spark):
    """Stopword and language-marker counts are whole-word counts of the
    ASCII-folded text, equal in both engines: 'éthe' holds the word
    'the' (é is not a word char in either engine), 'the_end' holds
    none ('_' is a word char)."""
    rows = [(1, "éthe dog and the cat"), (2, "the_end"),
            (3, "THE The the, A. is-it"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {r.doc_id: (r.stop_ratio, r.quality, r.lang_pred)
           for r in X.language_id(X.quality_score(df)).collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows,
                                           columns=["doc_id", "text"]))
    q = X.quality_score_sql()
    exp = {r[0]: r[1:] for r in con.sql(
        f"SELECT doc_id, {q['stop_ratio']}, {q['quality']}, "
        f"{X.language_id_sql()} FROM documents").fetchall()}
    assert got == exp
    assert got[1][0] == 0.6 and got[1][2] == "en"
    assert got[2][0] == 0.0 and got[2][2] == "und"
    assert got[3][0] == 1.2          # 6 stopwords over 5 space words


def test_redact_pii_sequential_and_twin(spark):
    """Planted PII is scrubbed with exact counts; an email's digits
    never double-count as a phone; NULL stays NULL; the DuckDB twin
    redacts byte-for-byte."""
    rows = [
        (1, "mail me at bob.smith+x@mail.example.org today"),
        (2, "server 192.168.1.100 then call 555-0142 or 555-014"),
        (3, "clean text with digits 123456789 but no pii"),
        (4, None),
        (5, "a1@b.co and 10.0.0.1 and 555-9999"),
        (6, "résumé ü555-1234 café 1.2.3.4"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.asDict() for r in X.redact_pii(df).collect()}
    assert got[1]["n_email"] == 1 and "<EMAIL>" in got[1]["redacted"]
    assert "bob" not in got[1]["redacted"]
    assert got[2]["n_ip"] == 1 and got[2]["n_phone"] == 2
    assert got[2]["redacted"].count("<PHONE>") == 2
    assert got[3]["redacted"] == rows[2][1]  # untouched
    assert (got[3]["n_email"], got[3]["n_ip"], got[3]["n_phone"]) \
        == (0, 0, 0)
    assert all(got[4][k] is None
               for k in ("n_email", "n_ip", "n_phone", "redacted"))
    assert (got[5]["n_email"], got[5]["n_ip"], got[5]["n_phone"]) \
        == (1, 1, 1)
    # non-ASCII neighbors: boundary-free patterns mean BOTH engines
    # redact here (\b would split them — java Unicode vs RE2 ASCII)
    assert got[6]["n_phone"] == 1 and got[6]["n_ip"] == 1
    assert "<PHONE>" in got[6]["redacted"]

    con = duckdb.connect()
    con.sql("CREATE TABLE t (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    p = X.redact_pii_sql("text")
    sql = (f"SELECT doc_id, {p['n_email']} n_email, {p['n_ip']} n_ip,"
           f" {p['n_phone']} n_phone, {p['redacted']} redacted FROM t")
    for rec in con.sql(sql).fetchall():
        g = got[rec[0]]
        assert (g["n_email"], g["n_ip"], g["n_phone"], g["redacted"]) \
            == (rec[1], rec[2], rec[3], rec[4]), rec


def test_chunk_text_windows(spark):
    """Chunks tile the text exactly; last chunk short; empty and NULL
    texts emit no rows; DuckDB twin produces identical rows."""
    rows = [(1, "abcdefghij"), (2, "abc"), (3, ""), (4, None),
            (5, "x" * 9)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = X.chunk_text(df, "doc_id", "text", chunk_chars=4)
    got = sorted((r.doc_id, r.chunk_idx, r.chunk_text)
                 for r in out.collect())
    assert got == [(1, 1, "abcd"), (1, 2, "efgh"), (1, 3, "ij"),
                   (2, 1, "abc"),
                   (5, 1, "xxxx"), (5, 2, "xxxx"), (5, 3, "x")]
    # reassembly invariant
    joined = {}
    for d, i, c in got:
        joined[d] = joined.get(d, "") + c
    assert joined == {1: "abcdefghij", 2: "abc", 5: "x" * 9}
    with pytest.raises(ValueError, match="positive"):
        X.chunk_text(df, "doc_id", "text", chunk_chars=0)

    con = duckdb.connect()
    con.sql("CREATE TABLE t (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = sorted(tuple(r) for r in con.sql(
        X.chunk_text_sql("doc_id", "text", 4, "t")).fetchall())
    assert oracle == got


def test_embedding_cluster_dedup_chain_and_twin(spark):
    """A chained component (edges 5-7 and 6-7 only) collapses to ONE
    survivor — one-hop id_b dropping would keep both 5 and 6; exact
    duplicates collapse; isolated vectors survive; the recursive-CTE
    DuckDB twin returns the identical survivor set."""
    import math

    def vec(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    rows = [(1, vec(200.0)),                  # isolated
            (2, vec(270.0)), (3, vec(270.0)),  # exact dup -> keep 2
            (5, vec(0.0)), (7, vec(55.0)), (6, vec(110.0))]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = sorted(r.vec_id for r in
                 D.embedding_cluster_dedup(df, threshold=0.5).collect())
    assert out == [1, 2, 5]

    # the one-hop posture keeps 6 (only 3 and 7 are ever an id_b):
    # the component collapse is genuinely stronger
    pairs = D.cosine_pairs(df, "vec_id", "embedding", 0.5)
    onehop = sorted(r.vec_id for r in df.join(
        pairs.select(F.col("id_b").alias("vec_id")).distinct(),
        "vec_id", "left_anti").collect())
    assert onehop == [1, 2, 5, 6]

    con = duckdb.connect()
    con.sql("CREATE TABLE emb (vec_id INT, embedding DOUBLE[])")
    con.executemany("INSERT INTO emb VALUES (?, ?)", rows)
    oracle = sorted(r[0] for r in con.sql(
        D.embedding_cluster_dedup_oracle_sql(
            "vec_id", "embedding", "emb", 0.5)).fetchall())
    assert oracle == out

    # the LSH scale path: missed edges can only ADD survivors (recall
    # < 1 by design), and exact duplicates share every band signature
    # so 3 is always caught
    lsh = sorted(r.vec_id for r in D.embedding_cluster_dedup(
        df, threshold=0.5, method="lsh", bands=4,
        rows_per_band=2).collect())
    assert set(lsh) >= {1, 2, 5} and 3 not in lsh
    with pytest.raises(ValueError, match="method"):
        D.embedding_cluster_dedup(df, method="nope")


def test_line_dedup_semantics_and_twin(spark):
    """Cross-doc repeated lines (trim-matched) are scrubbed from every
    doc; blank lines and intra-doc-only repeats survive; order is
    preserved; all-boilerplate docs collapse to '' (never NULL); NULL
    texts emit no row; the DuckDB twin reproduces rows exactly."""
    rows = [(1, "KEEP me\nBOILER\n\nunique one"),
            (2, "BOILER\nanother unique"),
            (3, "  BOILER  \nthird unique"),   # trims to the same key
            (4, "solo line\nsolo line"),       # intra-doc repeat only
            (5, "BOILER"),                     # everything removed
            (6, None),
            (7, "")]                           # one blank line
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: (r.text_dedup, r.n_lines, r.n_removed)
           for r in X.line_dedup(df, "doc_id", min_docs=2).collect()}
    assert got == {
        1: ("KEEP me\n\nunique one", 4, 1),
        2: ("another unique", 2, 1),
        3: ("third unique", 2, 1),
        4: ("solo line\nsolo line", 2, 0),
        5: ("", 1, 1),
        7: ("", 1, 0),
    }
    # BOILER sits in 4 distinct docs (1,2,3,5): still scrubbed at
    # min_docs=4, kept everywhere once the threshold passes that
    at4 = {r.doc_id: r.n_removed
           for r in X.line_dedup(df, "doc_id", min_docs=4).collect()}
    assert at4 == {1: 1, 2: 1, 3: 1, 4: 0, 5: 1, 7: 0}
    higher = {r.doc_id: r.n_removed
              for r in X.line_dedup(df, "doc_id", min_docs=5).collect()}
    assert all(v == 0 for v in higher.values())
    with pytest.raises(ValueError, match="min_docs"):
        X.line_dedup(df, "doc_id", min_docs=1)

    con = duckdb.connect()
    con.sql("CREATE TABLE t (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = {r[0]: (r[1], r[2], r[3]) for r in con.sql(
        X.line_dedup_sql("doc_id", "text", 2, table="t")).fetchall()}
    assert oracle == got

    # the shuffle-join scale path is value-identical to the broadcast
    # default
    nb = {r.doc_id: (r.text_dedup, r.n_lines, r.n_removed)
          for r in X.line_dedup(df, "doc_id", min_docs=2,
                                broadcast_freq=False).collect()}
    assert nb == got


def test_govern_corpus_stage_semantics(spark, sf_dir):
    """Every survivor individually passes each gate (quality,
    repetition, decontamination) and carries a valid split label;
    stage-output column collisions refuse loudly."""
    from esri_dump_spark.operators.pipeline import govern_corpus
    from esri_dump_spark.operators.dedup import decontaminate
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter("doc_id % 7 != 0")
    ev = docs.filter("doc_id % 7 = 0")
    out = govern_corpus(train, ev, split_seed="t")
    rows = out.collect()
    assert rows and all(r.split in ("train", "val", "test")
                        for r in rows)
    ids = {r.doc_id for r in rows}
    # survivors pass the standalone gates
    q = {r.doc_id for r in
         X.quality_score(train).filter("quality >= 0.8").collect()}
    rep = {r.doc_id for r in
           X.repetition_signals(train)
           .filter("dup_word_frac <= 0.6").collect()}
    dirty = {r.doc_id for r in
             decontaminate(train, ev, "doc_id", "text", n=4).collect()}
    assert ids == (q & rep) - dirty
    import pytest
    with pytest.raises(ValueError, match="collide"):
        govern_corpus(train.withColumn("quality", F.lit(1.0)), ev)


def test_decode_stats_and_verify(spark):
    imgs = spark.createDataFrame(images_pdf(80, with_geo=False))
    stats = M.decode_stats(imgs).collect()
    assert len(stats) == 80 and all(r.ok for r in stats)
    # solid quadrant keyed by row: mean_r of img0 quadrant influences mean
    v = M.verify_images(imgs).collect()
    assert all(r.dims_ok for r in v)
    assert all(r.phash_ok for r in v)
    assert all(r.psnr_ok for r in v)


def test_image_quality_stats_analytic(spark):
    """Solid color -> zero entropy/std/sharpness; a 2-value
    checkerboard -> entropy exactly 1 bit and known sharpness;
    corrupt bytes land as ok=false rows."""
    from esri_dump_spark.kernels.image import encode_image
    solid = np.full((8, 8, 3), 77, dtype=np.uint8)
    checker = np.zeros((8, 8, 3), dtype=np.uint8)
    checker[(np.indices((8, 8)).sum(axis=0) % 2) == 1] = 255
    rows = [("solid", encode_image(solid, "png"), "png"),
            ("checker", encode_image(checker, "png"), "png"),
            ("broken", b"not-an-image", "png")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary,"
                               " fmt string")
    got = {r.image_id: r for r in
           M.image_quality_stats(df).collect()}
    s = got["solid"]
    assert s.ok and s.std_luma == 0.0 and s.entropy_bits == 0.0 \
        and s.sharpness == 0.0 and s.mean_luma == pytest.approx(77.0)
    c = got["checker"]
    # two equally-likely luma values -> exactly 1 bit; every adjacent
    # pair differs by 255 -> sharpness = 255 per axis, 510 total
    assert c.ok and c.entropy_bits == pytest.approx(1.0)
    assert c.mean_luma == pytest.approx(127.5)
    assert c.sharpness == pytest.approx(510.0)
    assert not got["broken"].ok and got["broken"].error


def test_resize_images(spark):
    imgs = spark.createDataFrame(images_pdf(12, with_geo=False))
    out = M.resize_images(imgs, 8, 8).collect()
    from esri_dump_spark.kernels.image import decode_png
    for r in out:
        px = decode_png(bytes(r.bytes))
        assert px.shape == (8, 8, 3)


def test_lineage_and_resume(spark, tmp_path):
    sink = str(tmp_path / "lineage")
    df = spark.range(0, 1000, 1, 8).withColumn("v", F.col("id") * 2)
    wrapped = L.with_lineage(df, "run1", sink, work_key_col="id")
    assert wrapped.count() == 1000
    lin = L.read_lineage(spark, sink)
    recs = lin.collect()
    assert sum(r.n_rows for r in recs) == 1000
    assert all(r.status == "ok" for r in recs)
    assert all(r.t_end >= r.t_start for r in recs)

    # resume end-to-end: run half the manifest with collect_keys under
    # a committed attempt — pending_work(completed_keys(...)) must
    # re-plan exactly the other half
    manifest = spark.range(0, 8).select(
        F.col("id").cast("string").alias("work_key"))
    half = manifest.filter(F.col("work_key") < "4")
    att = L.new_attempt_id()
    wrapped = L.with_lineage(half, "run2", sink, work_key_col="work_key",
                             collect_keys=True, attempt_id=att)
    assert wrapped.count() == 4
    # marker not yet written → nothing is certified, everything pending
    done0 = L.completed_keys(spark, sink, "run2")
    assert L.pending_work(manifest, done0, "work_key").count() == 8
    L.commit_attempt(sink, "run2", att)
    done1 = L.completed_keys(spark, sink, "run2")
    pend = L.pending_work(manifest, done1, "work_key")
    assert {r.work_key for r in pend.collect()} == {"4", "5", "6", "7"}


def test_observe_metrics(spark):
    df = spark.range(100)
    observed, obs = L.observe_metrics(df)
    observed.count()
    assert obs.get["n_rows"] == 100


def test_multi_index_plan_rejects_budget_at_hash_width():
    """max_hamming >= total_bits means EVERY pair qualifies — no block
    split can prune, and the old single-block fallback silently missed
    pairs differing in all bits. Must refuse loudly instead."""
    import pytest
    from esri_dump_spark.operators.dedup import _multi_index_plan
    for bits, k in ((60, 60), (64, 64), (64, 70)):
        with pytest.raises(ValueError, match="every pair is within"):
            _multi_index_plan(bits, k)
    # one below the width still yields a lossless plan
    widths, subs = _multi_index_plan(8, 7)
    assert len(widths) == 8 and subs == [(j,) for j in range(8)]


def test_knn_join_rejects_non_positive_res_step(spark):
    import pytest
    from esri_dump_spark.operators.knn import knn_join
    q = spark.createDataFrame(pd.DataFrame(
        {"query_id": [1], "lon": [0.0], "lat": [0.0]}))
    p = spark.createDataFrame(pd.DataFrame(
        {"point_id": [1], "lon": [0.1], "lat": [0.1]}))
    with pytest.raises(ValueError, match="res_step"):
        knn_join(q, p, k=1, res=5, res_step=0, broadcast_points=True)


def test_text_ops_null_text_matches_duckdb(spark):
    """NULL text must flow through as NULL on BOTH sides — Spark's
    size(NULL) = -1 sentinel must never leak into token_count /
    quality_score / language_id outputs."""
    import duckdb
    pdf = pd.DataFrame({"doc_id": [0, 1],
                        "text": ["the cat sat on the mat", None]})
    df = spark.createDataFrame(pdf)
    got = (X.language_id(X.quality_score(X.token_count(df)))
           .orderBy("doc_id").toPandas())
    con = duckdb.connect()
    con.register("docs", pdf)
    q = X.quality_score_sql()
    sql = (f"SELECT doc_id, {X.token_count_sql()} AS n_tokens, "
           + ", ".join(f"{v} AS {k}" for k, v in q.items())
           + f", {X.language_id_sql()} AS lang_pred "
           "FROM docs ORDER BY doc_id")
    exp = con.execute(sql).fetchdf()
    for col in ("n_tokens", "n_words", "punct_ratio", "stop_ratio",
                "quality", "lang_pred"):
        g, e = got[col].iloc[1], exp[col].iloc[1]
        assert (pd.isna(g) and pd.isna(e)), (col, g, e)
        if col != "lang_pred":
            assert float(got[col].iloc[0]) == pytest.approx(
                float(exp[col].iloc[0])), col
    assert got["lang_pred"].iloc[0] == exp["lang_pred"].iloc[0] == "en"


def test_clean_corpus_rejects_colliding_columns(spark):
    from esri_dump_spark.operators.pipeline import clean_corpus
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["x"], "quality": [0.5]}))
    with pytest.raises(ValueError, match="collide"):
        clean_corpus(df)


def test_decode_stats_and_verify_survive_corrupt_rows(spark):
    """One NULL-bytes row and one garbage row must land as failing ROWS
    (ok=false / all-False verification), never kill the task."""
    from esri_dump_spark.sources.fixtures import images_pdf
    base = images_pdf(6, with_geo=False)
    bad = base.copy()
    bad.loc[0, "bytes"] = None
    bad.loc[1, "bytes"] = b"\xff\xd8garbage-not-a-jpeg"
    df = spark.createDataFrame(bad)
    stats = M.decode_stats(df).orderBy("image_id").toPandas()
    assert len(stats) == 6
    assert stats["ok"].sum() == 4 and (~stats["ok"]).sum() == 2
    v = M.verify_images(df).toPandas()
    assert len(v) == 6
    assert (~v["psnr_ok"]).sum() >= 2  # the two corrupt rows fail


def _asof_brute(lrows, rrows, strict=False, tolerance=None):
    """Python oracle: (user, t, lid) x (user, t2, rid, val)."""
    out = {}
    for (u, t, lid) in lrows:
        best = None
        for (ru, rt, rid, val) in rrows:
            if ru != u:
                continue
            if (rt > t) if not strict else (rt >= t):
                continue
            if tolerance is not None and t - rt > tolerance:
                continue
            # latest time wins; among equal times the max rid wins
            if best is None or (rt, rid) > (best[0], best[1]):
                best = (rt, rid, val)
        out[lid] = best
    return out


def test_asof_join_matches_brute_force(spark):
    from esri_dump_spark.operators.asof import asof_join
    lrows = [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"),
             (2, 7, "d"), (2, 100, "e"), (3, 50, "f")]
    # user 3 has no right rows; user 1 has a tie at t=10 (rids 7, 8)
    rrows = [(1, 10, 7, 0.7), (1, 10, 8, 0.8), (1, 15, 9, 0.9),
             (1, 1, 1, 0.1), (2, 7, 2, 0.2), (2, 90, 3, 0.3)]
    l = spark.createDataFrame(lrows, "user_id int, ts int, lid string")
    r = spark.createDataFrame(rrows,
                              "user_id int, ts int, rid int, val double")
    for strict in (False, True):
        got = asof_join(l, r, by="user_id", strict=strict,
                        tiebreak="rid").collect()
        exp = _asof_brute(lrows, rrows, strict=strict)
        assert len(got) == len(lrows)
        for row in got:
            b = exp[row.lid]
            if b is None:
                assert row.asof_rid is None and row.asof_ts is None
            else:
                assert (row.asof_ts, row.asof_rid, row.asof_val) == b, \
                    (strict, row.lid, row.asof_ts, row.asof_rid, b)


def test_asof_join_tolerance_voids_stale_matches(spark):
    from esri_dump_spark.operators.asof import asof_join
    lrows = [(1, 100, "a"), (1, 12, "b")]
    rrows = [(1, 10, 1, 0.1)]
    l = spark.createDataFrame(lrows, "user_id int, ts int, lid string")
    r = spark.createDataFrame(rrows,
                              "user_id int, ts int, rid int, val double")
    got = {row.lid: (row.asof_rid, row.asof_val)
           for row in asof_join(l, r, by="user_id",
                                tolerance=5.0).collect()}
    assert got["a"] == (None, None)   # 90s stale -> voided
    assert got["b"] == (1, 0.1)       # 2s fresh -> kept
    exp = _asof_brute(lrows, rrows, tolerance=5.0)
    assert (exp["a"] is None) and (exp["b"] is not None)


def test_asof_join_rejects_column_collision(spark):
    import pytest
    from esri_dump_spark.operators.asof import asof_join
    l = spark.createDataFrame([(1, 10, 5)],
                              "user_id int, ts int, asof_val int")
    r = spark.createDataFrame([(1, 5, 7)],
                              "user_id int, ts int, val int")
    with pytest.raises(ValueError, match="collide"):
        asof_join(l, r, by="user_id")


def test_interval_join_matches_brute_force(spark):
    """Bucketed event-in-interval join vs the O(n*m) python oracle —
    boundaries inclusive both ends, intervals spanning multiple
    buckets, zero-length and inverted intervals, keyless mode."""
    from esri_dump_spark.operators.asof import interval_join
    evs = [(1, 0.0, "a"), (1, 99.9, "b"), (1, 100.0, "c"),
           (1, 250.0, "d"), (2, 50.0, "e"), (3, 10.0, "f"),
           (1, 777.0, "g")]
    ivs = [(1, 0.0, 100.0, "w1"),      # spans buckets, both ends hit
           (1, 100.0, 100.0, "w2"),    # zero-length: matches "c" only
           (1, 240.0, 260.0, "w3"),
           (1, 300.0, 200.0, "w_bad"),  # inverted: matches nothing
           (2, 0.0, 1000.0, "w4"),     # long span, many buckets
           (4, 0.0, 1000.0, "w5")]     # key with no events
    e = spark.createDataFrame(evs, "user_id int, ts double, eid string")
    iv = spark.createDataFrame(
        ivs, "user_id int, w_start double, w_end double, wid string")
    expected = {(eid, wid)
                for (eu, t, eid) in evs
                for (iu, s, en, wid) in ivs
                if eu == iu and s <= t <= en}
    for bucket in (30.0, 100.0, 1000.0):
        got = interval_join(e, iv, by="user_id", time_col="ts",
                            start_col="w_start", end_col="w_end",
                            bucket_seconds=bucket)
        assert {(r.eid, r.wid) for r in got.collect()} == expected, bucket
    # keyless: every (event, interval) time containment regardless of key
    exp_nokey = {(eid, wid)
                 for (_, t, eid) in evs
                 for (_, s, en, wid) in ivs if s <= t <= en}
    got = interval_join(e.drop("user_id"),
                        iv.withColumnRenamed("user_id", "iv_user"),
                        by=None, time_col="ts",
                        start_col="w_start", end_col="w_end",
                        bucket_seconds=100.0)
    assert {(r.eid, r.wid) for r in got.collect()} == exp_nokey


def test_interval_join_timestamp_buckets_are_exact(spark):
    """Timestamp columns bucket on integer microseconds; events exactly
    on a boundary land inclusively at both ends."""
    from esri_dump_spark.operators.asof import interval_join
    e = spark.sql("""
        SELECT * FROM VALUES
          (1, TIMESTAMP '2024-01-01 00:00:00', 'a'),
          (1, TIMESTAMP '2024-01-01 02:00:00', 'b'),
          (1, TIMESTAMP '2024-01-01 02:00:00.000001', 'c')
        AS t(user_id, ts, eid)""")
    iv = spark.sql("""
        SELECT * FROM VALUES
          (1, TIMESTAMP '2024-01-01 00:00:00',
              TIMESTAMP '2024-01-01 02:00:00', 'w')
        AS t(user_id, w_start, w_end, wid)""")
    got = interval_join(e, iv, by="user_id", start_col="w_start",
                        end_col="w_end", bucket_seconds=3600.0)
    assert {r.eid for r in got.collect()} == {"a", "b"}


def test_split_assign_partitions_and_is_stable(spark):
    """Every row gets exactly one label; proportions track the
    weights; the assignment is identical after an arbitrary
    repartition (pure function of id+seed, not of the plan)."""
    from esri_dump_spark.operators.sample import split_assign
    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    out = split_assign(df, "doc_id", seed="t")
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 5000
    assert 0.85 < counts["train"] / 5000 < 0.95
    assert 0.02 < counts["val"] / 5000 < 0.08
    assert 0.02 < counts["test"] / 5000 < 0.08
    a = {(r.doc_id, r.split) for r in out.collect()}
    b = {(r.doc_id, r.split) for r in
         split_assign(df.repartition(13), "doc_id", seed="t").collect()}
    assert a == b
    # a different seed reshuffles assignments
    c = {(r.doc_id, r.split) for r in
         split_assign(df, "doc_id", seed="other").collect()}
    assert a != c
    import pytest
    with pytest.raises(ValueError, match="already exists"):
        split_assign(out, "doc_id")
    with pytest.raises(ValueError, match="non-negative"):
        split_assign(df, "doc_id", weights={"a": -1.0, "b": 2.0})


def test_sample_fraction_nests_and_scales(spark):
    """f1 < f2 => sample(f1) is a subset of sample(f2); fraction 1.0
    keeps everything; 0.0 keeps nothing."""
    from esri_dump_spark.operators.sample import sample_fraction
    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    s10 = {r.doc_id for r in
           sample_fraction(df, "doc_id", 0.1, seed="n").collect()}
    s30 = {r.doc_id for r in
           sample_fraction(df, "doc_id", 0.3, seed="n").collect()}
    assert s10 <= s30
    assert 0.05 < len(s10) / 4000 < 0.15
    assert 0.25 < len(s30) / 4000 < 0.35
    assert sample_fraction(df, "doc_id", 1.0).count() == 4000
    assert sample_fraction(df, "doc_id", 0.0).count() == 0
    import pytest
    with pytest.raises(ValueError, match="fraction"):
        sample_fraction(df, "doc_id", 1.5)


def test_split_sample_null_ids_match_sql_semantics(spark):
    """A NULL id must yield a NULL hash (like `id || ':' || seed` in
    SQL) — NULL split label, excluded from samples — not silently
    hash as the bare seed."""
    from esri_dump_spark.operators.sample import (sample_fraction,
                                                  split_assign)
    df = spark.createDataFrame([(1,), (None,), (2,)], "doc_id int")
    sp = {r.doc_id: r.split for r in
          split_assign(df, "doc_id").collect()}
    assert sp[None] is None
    assert sp[1] is not None and sp[2] is not None
    kept = {r.doc_id for r in
            sample_fraction(df, "doc_id", 1.0).collect()}
    assert None not in kept and kept == {1, 2}


def test_stratified_sample_exact_counts(spark):
    """Exactly min(n, stratum size) rows per stratum, deterministic
    across reruns."""
    from esri_dump_spark.operators.sample import stratified_sample
    df = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)],
        "event_id int, grp string")
    out = stratified_sample(df, "grp", 50, "event_id", seed="s")
    sizes = {r["grp"]: r["n"] for r in
             out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"big": 50, "small": 50}
    out2 = stratified_sample(df, "grp", 500, "event_id", seed="s")
    sizes2 = {r["grp"]: r["n"] for r in
              out2.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert sizes2 == {"big": 500, "small": 100}  # capped at stratum size
    a = sorted(r.event_id for r in out.collect())
    b = sorted(r.event_id for r in
               stratified_sample(df.repartition(7), "grp", 50,
                                 "event_id", seed="s").collect())
    assert a == b


def test_mix_sources_exact_proportions(spark):
    """Quotas are w_i * min(n_i div w_i); unweighted sources drop;
    a source that can't meet one quota unit empties the mix."""
    from esri_dump_spark.operators.sample import mix_sources
    rows = ([(i, "web") for i in range(100)]
            + [(200 + i, "books") for i in range(30)]
            + [(400 + i, "code") for i in range(7)]
            + [(600 + i, "junk") for i in range(50)])
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = mix_sources(df, "source", {"web": 7, "books": 2, "code": 1},
                      "doc_id", seed="m")
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # M = min(100//7, 30//2, 7//1) = 7 -> 49:14:7
    assert got == {"web": 49, "books": 14, "code": 7}
    # deterministic across repartition
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in
               mix_sources(df.repartition(11), "source",
                           {"web": 7, "books": 2, "code": 1},
                           "doc_id", seed="m").collect())
    assert a == b
    # a 10-weight source with 7 rows -> M=0 -> empty (loud, not skewed)
    assert mix_sources(df, "source", {"web": 1, "code": 10},
                       "doc_id").count() == 0
    # a weighted source with ZERO rows must also force M=0, not
    # silently drop out of the min()
    assert mix_sources(df, "source", {"web": 1, "absent": 1},
                       "doc_id").count() == 0
    import pytest
    with pytest.raises(ValueError, match="positive integers"):
        mix_sources(df, "source", {"web": 0.5}, "doc_id")
    with pytest.raises(ValueError, match="positive integers"):
        mix_sources(df, "source", {"web": True}, "doc_id")
    with pytest.raises(ValueError, match="non-empty"):
        mix_sources(df, "source", {}, "doc_id")
    with pytest.raises(ValueError, match="collide"):
        mix_sources(df.withColumn("_rn", F.lit(1)), "source",
                    {"web": 1}, "doc_id")


def test_take_token_budget_greedy_prefix(spark):
    """Every kept row starts under budget; rows nest across budgets;
    per-group scoping budgets each group independently."""
    from esri_dump_spark.operators.sample import (hash_u60,
                                                  take_token_budget)
    rows = [(i, "g1" if i % 2 else "g2", 10 + (i * 37) % 90)
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, grp string, sz int")
    # python oracle: walk in (hash, id) order per group
    hashes = {r.doc_id: r.h for r in
              df.select("doc_id", hash_u60("doc_id", "s").alias("h"))
              .collect()}
    exp = set()
    for g in ("g1", "g2"):
        acc = 0
        for (i, _, sz) in sorted((r for r in rows if r[1] == g),
                                 key=lambda r: (hashes[r[0]], r[0])):
            if acc < 500:
                exp.add(i)
            acc += sz
    got = {r.doc_id for r in
           take_token_budget(df, 500, "sz", "doc_id", seed="s",
                             by="grp").collect()}
    assert got == exp
    small = {r.doc_id for r in
             take_token_budget(df, 200, "sz", "doc_id", seed="s",
                               by="grp").collect()}
    assert small <= got          # budgets nest
    glob = take_token_budget(df, 10**9, "sz", "doc_id", seed="s")
    assert glob.count() == 200   # huge global budget keeps all


def test_decontaminate_brute_force(spark):
    """Report mode matches a per-doc distinct-shared-gram brute force
    (a gram shared with MANY eval docs counts once); min_hits raises
    the bar; filter mode anti-joins exactly the flagged ids."""
    from esri_dump_spark.operators.dedup import decontaminate
    import pytest

    def grams(text, n=3):
        w = text.lower().split(" ")
        k = max(len(w) - n + 1, 1)
        return {" ".join(w[i:i + n]) for i in range(k)}

    train_rows = [
        (1, "the cat sat on the mat today"),
        (2, "a dog ran over the green hill"),          # clean
        (3, "question one the cat sat on something"),  # 1 shared gram
        (4, "the cat sat on the mat again and again"), # many shared
        (5, "totally unrelated text body here"),       # clean
    ]
    eval_rows = [
        (100, "eval doc one the cat sat on the mat"),
        (101, "eval doc two also has the cat sat phrase"),
    ]
    tdf = spark.createDataFrame(train_rows, "doc_id int, text string")
    edf = spark.createDataFrame(eval_rows, "doc_id int, text string")

    eg = set().union(*(grams(t) for _, t in eval_rows))
    exp = {i: len(grams(t) & eg) for i, t in train_rows
           if grams(t) & eg}
    got = {r.doc_id: r.n_hit_grams for r in
           decontaminate(tdf, edf, "doc_id", "text", n=3).collect()}
    assert got == exp

    exp2 = {i: c for i, c in exp.items() if c >= 2}
    got2 = {r.doc_id: r.n_hit_grams for r in
            decontaminate(tdf, edf, "doc_id", "text", n=3,
                          min_hits=2).collect()}
    assert got2 == exp2

    kept = {r.doc_id for r in
            decontaminate(tdf, edf, "doc_id", "text", n=3,
                          mode="filter").collect()}
    assert kept == {i for i, _ in train_rows} - set(exp)

    with pytest.raises(ValueError, match="report.*filter|mode"):
        decontaminate(tdf, edf, "doc_id", "text", mode="drop")
    with pytest.raises(ValueError, match="min_hits"):
        decontaminate(tdf, edf, "doc_id", "text", min_hits=0)

    # NULL texts on BOTH sides must not manufacture a shared '' gram
    # (the size(NULL)/concat_ws cross-engine divergence family)
    tnull = tdf.unionByName(spark.createDataFrame(
        [(9, None)], "doc_id int, text string"))
    enull = edf.unionByName(spark.createDataFrame(
        [(199, None)], "doc_id int, text string"))
    got_n = {r.doc_id: r.n_hit_grams for r in
             decontaminate(tnull, enull, "doc_id", "text",
                           n=3).collect()}
    assert got_n == exp


def test_top_percent_integer_cut(spark):
    """The survivor set is exactly {rank*100 <= p*n} per group, with
    desc/asc modes, NULL scores never admitted early, and percent
    edges 0/100."""
    from esri_dump_spark.operators.sample import top_percent
    import pytest
    rows = [(i, "g1" if i < 10 else "g2",
             None if i % 7 == 3 else float((i * 13) % 20))
            for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id int, grp string, sc double")

    def brute(p, asc, groups=("g1", "g2")):
        keep = set()
        for g in groups:
            grp = [r for r in rows if g is None or r[1] == g]
            # sort: non-null first by score (desc or asc), ties id asc,
            # nulls last
            grp.sort(key=lambda r: ((r[2] is None),
                                    (r[2] if asc else -r[2])
                                    if r[2] is not None else 0.0,
                                    r[0]))
            n = len(grp)
            keep |= {r[0] for rk, r in enumerate(grp, 1)
                     if rk * 100 <= p * n}
        return keep

    for p, asc in ((20, False), (40, True), (0, False), (100, False)):
        got = {r.doc_id for r in
               top_percent(df, "sc", p, "doc_id", by="grp",
                           ascending=asc).collect()}
        assert got == brute(p, asc), (p, asc)
    # global (no by): a REAL cut over the single total order — p=100
    # alone would pass trivially and never exercise the global window
    got = {r.doc_id for r in
           top_percent(df, "sc", 20, "doc_id").collect()}
    assert got == brute(20, False, groups=(None,))
    got = {r.doc_id for r in
           top_percent(df, "sc", 100, "doc_id").collect()}
    assert got == {r[0] for r in rows}
    with pytest.raises(ValueError, match="percent"):
        top_percent(df, "sc", 20.5, "doc_id")
    with pytest.raises(ValueError, match="percent"):
        top_percent(df, "sc", 101, "doc_id")
    # NULL id among tied scores loses the tie (NULLS LAST, matching
    # DuckDB's ASC default — Spark's bare .asc() is NULLS FIRST)
    tie = spark.createDataFrame([(None, "g", 5.0), (1, "g", 5.0)],
                                "doc_id int, grp string, sc double")
    kept = top_percent(tie, "sc", 50, "doc_id", by="grp").collect()
    assert [r.doc_id for r in kept] == [1]


def test_cluster_size_histogram_counts(spark):
    """Known component structure -> exact histogram rows; singleton
    bucket = corpus minus labeled docs; no size-1 row when every doc
    is clustered."""
    from esri_dump_spark.operators.dedup import cluster_size_histogram
    t3 = "the quick brown fox jumps over the lazy dog again " * 4
    t2 = "pack my box with five dozen liquor jugs tonight ok " * 4
    rows = ([(i, t3) for i in (1, 2, 3)] + [(i, t2) for i in (10, 11)]
            + [(20, "a singleton document unlike all of the others"),
               (21, "another lonely text with no duplicate partner")])
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.cluster_size: r.n_clusters for r in
           cluster_size_histogram(df, "doc_id", "text", threshold=0.6,
                                  band_key="exact").collect()}
    assert got == {3: 1, 2: 1, 1: 2}
    # fully-clustered corpus: the singleton row is suppressed
    full = spark.createDataFrame([(i, t3) for i in (1, 2)],
                                 "doc_id int, text string")
    got2 = {r.cluster_size: r.n_clusters for r in
            cluster_size_histogram(full, "doc_id", "text",
                                   threshold=0.6,
                                   band_key="exact").collect()}
    assert got2 == {2: 1}


def test_leakage_safe_split_components_share_split(spark):
    """Every member of a near-dup component gets its representative's
    split label; singletons get exactly split_assign's label; a
    colliding scratch column raises."""
    from esri_dump_spark.operators.sample import (hash_u60,
                                                  leakage_safe_split,
                                                  split_assign)
    import pytest
    dup_a = "the quick brown fox jumps over the lazy dog again " * 4
    dup_b = "pack my box with five dozen liquor jugs tonight ok " * 4
    rows = ([(i, dup_a) for i in (3, 7, 11)]        # component rep=3
            + [(i, dup_b) for i in (20, 21)]        # component rep=20
            + [(30, "one singleton text body entirely unlike others"),
               (31, "another unique document with no duplicate at all")])
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = leakage_safe_split(df, "doc_id", "text", seed="s",
                             threshold=0.6, band_key="exact")
    got = {r.doc_id: r.split for r in out.collect()}
    assert len(got) == len(rows)
    assert got[3] == got[7] == got[11]
    assert got[20] == got[21]
    # members carry the REP's label; singletons their own
    base = {r.doc_id: r.split for r in
            split_assign(df, "doc_id", seed="s").collect()}
    assert got[7] == base[3] and got[21] == base[20]
    assert got[30] == base[30] and got[31] == base[31]
    with pytest.raises(ValueError, match="collide"):
        leakage_safe_split(df.withColumn("_ls_key", F.lit(1)),
                           "doc_id", "text")


def test_interval_join_fanout_guard_and_collision(spark):
    import pytest
    from pyspark.errors import SparkRuntimeException
    from esri_dump_spark.operators.asof import interval_join
    e = spark.createDataFrame([(1, 5.0, "a")],
                              "user_id int, ts double, eid string")
    iv = spark.createDataFrame([(1, 0.0, 1e6, "w")],
                               "user_id int, w_start double, "
                               "w_end double, wid string")
    with pytest.raises(SparkRuntimeException, match="spans"):
        interval_join(e, iv, by="user_id", start_col="w_start",
                      end_col="w_end", bucket_seconds=1.0,
                      max_fanout=100).collect()
    iv2 = iv.withColumnRenamed("wid", "eid")
    with pytest.raises(ValueError, match="collide"):
        interval_join(e, iv2, by="user_id", start_col="w_start",
                      end_col="w_end")


def test_chunk_text_overlapping_stride(spark):
    """stride < chunk_chars = RAG-style overlap: consecutive windows
    share (chunk - stride) chars, every char covered, the window
    count is minimal, and the DuckDB twin matches row-for-row."""
    rows = [(1, "abcdefghij"), (2, "abc"), (3, ""), (4, None),
            (5, "abcdefg")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = X.chunk_text(df, "doc_id", "text", chunk_chars=4, stride=2)
    got = sorted((r.doc_id, r.chunk_idx, r.chunk_text)
                 for r in out.collect())
    # len 10: 1 + ceil(6/2) = 4 windows at 1,3,5,7
    assert got == [(1, 1, "abcd"), (1, 2, "cdef"), (1, 3, "efgh"),
                   (1, 4, "ghij"),
                   (2, 1, "abc"),
                   (5, 1, "abcd"), (5, 2, "cdef"), (5, 3, "efg")]
    # coverage: union of windows reconstructs the text
    for d, text in [(1, "abcdefghij"), (5, "abcdefg")]:
        covered = [""] * len(text)
        for dd, i, c in got:
            if dd == d:
                for j, ch in enumerate(c):
                    covered[(i - 1) * 2 + j] = ch
        assert "".join(covered) == text
    # stride == chunk_chars is byte-identical to the default
    a = sorted(map(tuple, X.chunk_text(df, "doc_id", "text", 4)
                   .collect()))
    b = sorted(map(tuple, X.chunk_text(df, "doc_id", "text", 4,
                                       stride=4).collect()))
    assert a == b
    with pytest.raises(ValueError, match="stride"):
        X.chunk_text(df, "doc_id", "text", 4, stride=0)
    # twin parity for the overlapping mode
    con = duckdb.connect()
    con.sql("CREATE TABLE t (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(map(tuple, con.sql(
        X.chunk_text_sql("doc_id", "text", 4, "t", stride=2))
        .fetchall()))
    assert got == want


def test_chunk_text_wide_stride_no_empty_chunks(spark):
    """stride > chunk_chars samples spaced windows; the count is
    capped so no window starts past the end — a bare coverage count
    would emit a degenerate EMPTY trailing chunk (both engines agreed
    on the bug, so only this direct assertion catches it)."""
    rows = [(1, "abcdef"), (2, "abcdefghijklmno"), (3, "ab")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = X.chunk_text(df, "doc_id", "text", chunk_chars=4, stride=10)
    got = sorted((r.doc_id, r.chunk_idx, r.chunk_text)
                 for r in out.collect())
    # len 6: window 2 would start at 11 > 6 -> exactly one window
    # len 15: windows at 1 and 11 (chars 11-14; sampling mode leaves
    # the tail uncovered by design, but never emits an empty chunk)
    assert got == [(1, 1, "abcd"), (2, 1, "abcd"), (2, 2, "klmn"),
                   (3, 1, "ab")]
    assert all(c != "" for _, _, c in got)
    # twin agrees on the capped count
    con = duckdb.connect()
    con.sql("CREATE TABLE t (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(map(tuple, con.sql(
        X.chunk_text_sql("doc_id", "text", 4, "t", stride=10))
        .fetchall()))
    assert got == want


def test_chunk_text_hostile_column_names(spark):
    df = spark.createDataFrame([(1, "abcdef")],
                               "doc_id int, text string") \
        .withColumnRenamed("doc_id", "the id") \
        .withColumnRenamed("text", "t.x")
    out = X.chunk_text(df, "the id", "t.x", chunk_chars=4)
    got = sorted((r["the id"], r.chunk_idx, r.chunk_text)
                 for r in out.collect())
    assert got == [(1, 1, "abcd"), (1, 2, "ef")]


# ----------------------------------------------- dup n-gram stats

def test_dup_ngram_stats_hand_and_twin(spark, sf_dir):
    import struct

    import duckdb

    from esri_dump_spark.operators.text import (
        dup_ngram_stats, dup_ngram_stats_oracle_sql)
    # hand-counted bigrams: doc 1 = 'a b' x3 (len 3) + 'b a' x2
    # (len 3) -> n=5 tot=15 dup=15 top=9; doc 2 all-unique
    rows = [(1, "a b a b a b"), (2, "x y z"), (3, None), (4, "q")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: tuple(r)[1:] for r in
           dup_ngram_stats(df, "doc_id", "text", 2).collect()}
    assert got[1][:4] == (5, 15, 15, 9)
    assert struct.pack("<d", got[1][4]) == struct.pack("<d", 1.0)
    assert struct.pack("<d", got[1][5]) == struct.pack("<d", 9 / 15)
    assert got[2][:4] == (2, 6, 0, 3)
    assert 3 not in got and 4 not in got  # NULL text / no bigram
    # layout invariance of the per-doc fold
    got13 = {r["doc_id"]: tuple(r)[1:] for r in
             dup_ngram_stats(df.repartition(13), "doc_id",
                             "text", 2).collect()}
    assert got13 == got
    # twin bit-exactness on the real corpus
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sp = dup_ngram_stats(docs, "doc_id", "text", 3) \
        .orderBy("doc_id").collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    du = con.execute(dup_ngram_stats_oracle_sql(3)).fetchall()
    assert len(sp) == len(du) > 0
    for a, b in zip(sp, du):
        ta = tuple(a)
        assert ta[:5] == b[:5]
        for i in (5, 6):
            assert struct.pack("<d", ta[i]) == struct.pack("<d", b[i])


def test_dup_ngram_stats_validation_and_plan(spark):
    import pytest as _pt

    from esri_dump_spark.operators.text import dup_ngram_stats
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pt.raises(ValueError, match="n must be"):
        dup_ngram_stats(df, "doc_id", "text", 0)
    # an UNRELATED column named like an output is fine — the
    # projection keeps only id_col, so nothing collides
    ok = dup_ngram_stats(
        df.selectExpr("doc_id", "text", "1 AS n_grams"),
        "doc_id", "text", 2)
    assert ok.columns.count("n_grams") == 1
    with _pt.raises(ValueError, match="collide"):
        dup_ngram_stats(df.selectExpr("doc_id AS n_grams", "text"),
                        "n_grams", "text", 2)
    d = dup_ngram_stats(df, "doc_id", "text", 2)
    p = d._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEval" not in p
    # zero shuffle: the whole statistic is per-row array work
    assert "Exchange" not in p
    # single-evaluation-site pins (the r32 rule): one fold, one sort,
    # exactly two tokenizer sites (the cheap size filter + the
    # let-bound work chain) — filter pushdown substituting a plain
    # alias would blow these up quadratically
    assert p.count("aggregate(") == 1
    assert p.count("array_sort(") == 1
    assert p.count("regexp_extract_all(") == 2


# --------------------------------------------------- gopher gate

def test_gopher_gate_rules_hand_fixture(spark):
    from esri_dump_spark.operators.text import gopher_gate
    good = " ".join(["the man be here to see of all and know that you"
                     " have gone with them"] * 5)         # 80 words
    # per-type symbol rule: 7 '#' and 7 '...' over 80 words passes
    # BOTH per-symbol ratios (7/80 <= 0.1 each) — a summed-count
    # variant would wrongly reject it (14/80 > 0.1)
    w = good.split(" ")
    for i in range(7):
        w[2 * i] += "#"
        w[2 * i + 1] += "..."
    per_type = " ".join(w)
    rows = [
        (1, good),                                   # passes all 7
        (2, "word " * 49),                           # 49 words: count
        (3, ("ab " * 60) + good),   # 140 words / 380 chars: mean 2.71
                                    # drags BELOW the 3-char floor
        (4, good + " ##########" * 60),              # symbol ratio
        (5, "\n".join(["- item"] * 20) + "\n" + good),  # bullet lines
        (6, "\n".join(["I wonder..."] * 9) + "\n" + good),  # ellipsis
        (7, ("12 34 " * 40) + good),                 # alpha < 80%
        (8, "zz qq ww " * 30),                       # no stopwords
        (9, None),                                   # dropped
        (11, per_type),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_gate(df).collect()}
    assert 9 not in got
    assert got[1]["keep"] == 1 and all(
        got[1][c] == 1 for c in got[1].__fields__ if c.startswith("ok_"))
    assert got[2]["ok_word_count"] == 0 and got[2]["keep"] == 0
    assert got[3]["ok_mean_word_len"] == 0
    assert got[4]["ok_symbol_ratio"] == 0 and got[4]["keep"] == 0
    assert got[5]["ok_bullet_lines"] == 0 and got[5]["keep"] == 0
    assert got[6]["ok_ellipsis"] == 0 and got[6]["keep"] == 0
    assert got[7]["ok_alpha_words"] == 0 and got[7]["keep"] == 0
    assert got[8]["ok_stopwords"] == 0 and got[8]["keep"] == 0
    assert (got[11]["n_hash"], got[11]["n_ellipsis"]) == (7, 7)
    assert got[11]["ok_symbol_ratio"] == 1
    # mean-word-length boundary from above: 20 two-char words + the
    # 80-word good doc = 100 words / 300 chars — passes EXACTLY at
    # the inclusive 3*n_words <= word_chars cut
    edge = gopher_gate(spark.createDataFrame(
        [(12, ("ab " * 20) + good)],
        "doc_id long, text string")).collect()[0]
    assert (edge["n_words"], edge["word_chars"]) == (100, 300)
    assert edge["ok_mean_word_len"] == 1
    # pure-short-word doc fails the floor outright
    short = gopher_gate(spark.createDataFrame(
        [(10, "ab cd " * 40)], "doc_id long, text string")).collect()[0]
    assert short["ok_mean_word_len"] == 0


def test_gopher_gate_twin_exact_and_plan(spark, sf_dir):
    import duckdb

    from esri_dump_spark.operators.text import (gopher_gate,
                                                gopher_gate_oracle_sql)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sp = gopher_gate(docs).orderBy("doc_id").collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    du = con.execute(gopher_gate_oracle_sql()).fetchall()
    assert len(sp) == len(du) > 0
    assert [tuple(r) for r in sp] == [tuple(r) for r in du]
    # zero shuffle, no Python, single-site pins for the three
    # let-bound arrays (word split feeds two consumers through ONE
    # lambda binding; the tokenizer appears once)
    p = gopher_gate(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEval" not in p
    # two DIFFERENT regexes, one site each: the bm25 tokenizer and
    # the ellipsis-symbol counter — a blown-up count means alias
    # substitution duplicated the let-bound chain
    assert p.count("regexp_extract_all(") == 2
    # the words/lines splits exist at one site each (split on the ws
    # class + split on the newline)
    assert p.count("split(") <= 3


# ------------------------------------------- incremental ledger

def test_dedup_incremental_paths_and_ledger_merge(spark):
    from esri_dump_spark.operators.dedup import (content_ledger,
                                                 dedup_incremental)
    prior = spark.createDataFrame(
        [(1, "seen-a"), (2, "seen-b")], "doc_id long, text string")
    shard = spark.createDataFrame(
        [(10, "seen-a"),           # ledger hit -> dropped
         (11, "fresh-x"), (13, "fresh-x"),  # within-shard: min id 11
         (12, "fresh-y"),
         (14, None)],              # NULL content -> dropped
        "doc_id long, text string")
    led = content_ledger(prior)
    got = sorted(r["doc_id"] for r in
                 dedup_incremental(shard, led).collect())
    assert got == [11, 12]
    # ledger folding: union + distinct is idempotent and mergeable
    led2 = content_ledger(shard)
    merged = led.unionByName(led2).distinct()
    assert merged.count() == 4  # seen-a, seen-b, fresh-x, fresh-y
    # next increment against the merged ledger finds nothing new
    assert dedup_incremental(shard, merged).count() == 0
    with pytest.raises(ValueError, match="_il_h"):
        dedup_incremental(shard.withColumn("_il_h", shard.doc_id),
                          led)


def test_dedup_incremental_entry_twin(spark, sf_dir):
    import duckdb

    import __spark_entry__ as E
    sp = [tuple(r) for r in
          E.queries()["dedup_incremental"](spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    du = [tuple(r) for r in
          con.execute(E.oracle_sql()["dedup_incremental"]).fetchall()]
    assert sp == du and len(sp) > 0
    # the planted fixture exercises BOTH removal paths — assert each
    # explicitly (a bare size check would also pass via NULL-text
    # drops alone)
    from esri_dump_spark.operators.dedup import planted_content_sql
    from esri_dump_spark.operators.sketch import DUCK
    prior_c = planted_content_sql(DUCK, shard=False)
    shard_c = planted_content_sql(DUCK, shard=True)
    ledger_hits = con.execute(f"""
        WITH l AS (SELECT DISTINCT {prior_c} AS c FROM documents
                   WHERE doc_id % 3 = 0)
        SELECT count(*) FROM documents d JOIN l
               ON ({shard_c.replace('doc_id', 'd.doc_id')}) = l.c
        WHERE d.doc_id % 3 <> 0""").fetchone()[0]
    within_dupes = con.execute(f"""
        WITH s AS (SELECT {shard_c} AS c FROM documents
                   WHERE doc_id % 3 <> 0)
        SELECT count(*) - count(DISTINCT c) FROM s""").fetchone()[0]
    assert ledger_hits > 0 and within_dupes > 0
