"""Dedup-family tests: exact, MinHash-LSH, SimHash, n-gram verify.

The near-dup tests run on a deterministic micro-corpus written as a
documents.parquet into tmp_path (same table contract as the fixtures),
so expected pairs are known by construction — this locks the operator
output across refactors (VERDICT r01 item 2).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_big_data_architect_spark.operators import dedup
from real_time_big_data_architect_spark.tables import load_table

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm afternoon sun near the old wooden fence gate "
)


@pytest.fixture(scope="module")
def micro_corpus(spark, tmp_path_factory):
    """5 docs: 0≡1 identical, 2 near-dup of 0 (one word changed),
    3 and 4 unrelated."""
    tmp = tmp_path_factory.mktemp("corpus")
    docs = [
        (0, BASE * 4, "en", "web", len(BASE * 4)),
        (1, BASE * 4, "en", "web", len(BASE * 4)),
        (2, (BASE * 4).replace("lazy", "sleepy", 1), "en", "web", len(BASE * 4)),
        (3, "completely different text about spark query optimization "
            "catalyst tungsten codegen shuffle partitions " * 6, "en", "docs", 100),
        (4, "unrelated corpus entry regarding embedding similarity search "
            "inverted files product quantization recall " * 6, "en", "docs", 100),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    return str(tmp)


def test_exact_dedup_groups_identical_texts(spark, micro_corpus):
    out = {r.keep_doc_id: r.n_copies for r in dedup.dedup_exact(spark, micro_corpus).collect()}
    assert out[0] == 2  # docs 0 and 1 identical, survivor is min doc_id
    assert out[2] == 1 and out[3] == 1 and out[4] == 1


def test_survivors_keep_min_doc_id(spark, micro_corpus):
    ids = sorted(r.doc_id for r in dedup.dedup_survivors(spark, micro_corpus).collect())
    assert ids == [0, 2, 3, 4]


def test_minhash_identical_docs_full_match(spark, micro_corpus):
    sigs = {r.doc_id: r.sig for r in dedup.minhash_signatures(spark, micro_corpus).collect()}
    assert len(sigs[0].split(",")) == dedup.N_MINHASHES
    assert sigs[0] == sigs[1]  # identical text → identical signature
    assert sigs[0] != sigs[3]


def test_minhash_lsh_finds_expected_pairs(spark, micro_corpus):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in dedup.dedup_minhash_lsh(spark, micro_corpus).collect()}
    assert pairs[(0, 1)] == 1.0  # identical
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.5  # near-dup
    assert (1, 2) in pairs
    # unrelated docs never pair
    assert not any(3 in p or 4 in p for p in pairs)


def test_minhash_estimate_close_to_exact_jaccard(spark, micro_corpus):
    est = {(r.doc_a, r.doc_b): r.est_jaccard for r in dedup.dedup_minhash_lsh(spark, micro_corpus).collect()}
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.dedup_ngram_jaccard(spark, micro_corpus).collect()}
    for pair, e in est.items():
        assert abs(e - exact[pair]) < 0.25  # 64 hashes → ~1/8 std error


def test_simhash_is_64_bit(spark, micro_corpus):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(spark, micro_corpus).collect()}
    assert sigs[0] == sigs[1]
    # distinct content must differ in the high 32 bits too (proves all
    # 64 bits carry signal, not just the low 16 of the old impl)
    high = {doc: (sig >> 32) & 0xFFFFFFFF for doc, sig in sigs.items()}
    assert high[0] != high[3] or high[0] != high[4]


def test_dedup_simhash_hamming_pairs(spark, micro_corpus):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.dedup_simhash(spark, micro_corpus).collect()}
    assert pairs[(0, 1)] == 0  # identical → distance 0
    assert all(h <= dedup.SIMHASH_MAX_HAMMING for h in pairs.values())
    assert not any(3 in p or 4 in p for p in pairs)


def test_ngram_jaccard_identical_is_one(spark, micro_corpus):
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.dedup_ngram_jaccard(spark, micro_corpus).collect()}
    assert exact[(0, 1)] == 1.0
    assert 0.5 <= exact[(0, 2)] < 1.0


def test_fixture_pair_counts_locked(spark, sf_small):
    """Known output on the driver fixture at sf0.001 — refactor guard."""
    mh = dedup.dedup_minhash_lsh(spark, sf_small)
    assert mh.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0  # canonical order
    n = mh.count()
    assert n == dedup.dedup_minhash_lsh(spark, sf_small).count()  # deterministic


def test_dedup_clusters_matches_union_find(spark, sf_small):
    """Component labels equal a driver-side union-find over the same
    near-dup pair graph — transitivity (A~B, B~C => same cluster) holds
    even when the A-C edge itself scores below threshold."""
    from real_time_big_data_architect_spark.operators import similarity

    pairs = [
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.dedup_embedding_cosine(spark, sf_small).collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    got = dedup.dedup_clusters(spark, sf_small).collect()
    n_vecs = load_table(spark, sf_small, "embeddings").count()
    assert len(got) == n_vecs  # every vector labeled, singletons included
    for r in got:
        expect = find(r.vec_id) if r.vec_id in parent else r.vec_id
        assert r.component_id == expect, (r.vec_id, r.component_id, expect)
        assert r.is_survivor == (r.vec_id == r.component_id)
    sizes: dict[int, int] = {}
    for r in got:
        sizes[r.component_id] = sizes.get(r.component_id, 0) + 1
    assert all(r.cluster_size == sizes[r.component_id] for r in got)
    assert sum(1 for r in got if r.is_survivor) == len(sizes)


def test_minhash_and_simhash_handle_unicode_text(spark, tmp_path_factory):
    """Training corpora are multilingual: signatures must be stable and
    dedup must still pair identical non-ASCII documents (md5 runs on
    UTF-8 bytes, so CJK/emoji text is first-class)."""
    tmp = tmp_path_factory.mktemp("unicode_corpus")
    text = "数据 处理 引擎 🚀 très bien " * 20
    other = "другой текст совсем о другом deležu " * 20
    docs = [
        (0, text, "zh", "web", len(text)),
        (1, text, "zh", "web", len(text)),
        (2, other, "ru", "web", len(other)),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp / "documents.parquet")
    )
    sigs = {
        r.doc_id: r.sig
        for r in dedup.minhash_signatures(spark, str(tmp)).collect()
    }
    assert sigs[0] == sigs[1] != sigs[2]
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, str(tmp)).collect()
    }
    assert (0, 1) in pairs and not any(2 in p for p in pairs)
    sh = {
        r.doc_id: r.simhash
        for r in dedup.simhash_signatures(spark, str(tmp)).collect()
    }
    assert sh[0] == sh[1] != sh[2]


def test_hot_bucket_guard_bounds_candidates(spark, tmp_path_factory):
    """A degenerate bucket (1 k identical docs — mass boilerplate) must
    NOT produce the quadratic ~500 k candidate pairs of a naive bucket
    self-join: the guard chains each doc to its next
    LSH_CHAIN_NEIGHBORS, so candidates stay O(n·k) and the whole run of
    identical docs remains one transitively-connected component."""
    tmp = tmp_path_factory.mktemp("hot_bucket")
    boiler = "subscribe to our newsletter for the latest updates " * 10
    n_hot = 1000
    docs = [(i, boiler, "en", "web", len(boiler)) for i in range(n_hot)]
    # a normal near-dup pair outside the hot bucket must still be found
    # through the exact small-bucket path
    normal = BASE * 4
    docs.append((5000, normal, "en", "docs", len(normal)))
    docs.append((5001, normal.replace("lazy", "sleepy", 1), "en", "docs",
                 len(normal)))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(4).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, str(tmp)).collect()
    ]
    # bounded: n·k chained + the one normal pair, nowhere near n²/2
    assert len(pairs) <= n_hot * dedup.LSH_CHAIN_NEIGHBORS + 1
    assert (5000, 5001) in pairs
    # the hot run stays fully connected: union-find over emitted pairs
    # must place all 1 k identical docs in one component
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a < n_hot and b < n_hot:
            parent[find(max(find(a), find(b)))] = min(find(a), find(b))
    roots = {find(i) for i in range(n_hot)}
    assert roots == {0}


def test_blank_docs_never_pair(spark, tmp_path_factory):
    """Empty/whitespace-only/null texts get null signatures and emit no
    near-dup pairs (two blank docs are not 'near-duplicates'); non-blank
    docs still pair normally alongside them."""
    tmp = tmp_path_factory.mktemp("blank_docs")
    normal = BASE * 4
    docs = [
        (0, "", "en", "web", 0),
        (1, "   ", "en", "web", 3),
        (2, None, "en", "web", 0),
        (3, "", "en", "web", 0),
        (4, normal, "en", "docs", len(normal)),
        (5, normal, "en", "docs", len(normal)),
        (6, " \t\n\r\x0b\x0c", "en", "web", 6),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    sigs = {
        r.doc_id: r.sig
        for r in dedup.minhash_signatures(spark, str(tmp)).collect()
    }
    assert sigs[0] is None and sigs[1] is None and sigs[2] is None
    assert sigs[6] is None
    assert sigs[4] is not None
    sh = {
        r.doc_id: r.simhash
        for r in dedup.simhash_signatures(spark, str(tmp)).collect()
    }
    assert sh[0] is None and sh[2] is None and sh[4] is not None

    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, str(tmp)).collect()
    }
    assert pairs == {(4, 5)}


def test_paragraph_dedup_keeps_first_occurrence(spark, tmp_path_factory):
    """Planted repeated paragraph units: only the corpus-wide FIRST
    occurrence survives; docs are rebuilt from surviving units in
    order, and fully-duplicate docs collapse to empty text."""
    tmp = tmp_path_factory.mktemp("para_corpus")
    para_a = " ".join(f"alpha{i}" for i in range(dedup.PARA_WORDS))
    para_b = " ".join(f"beta{i}" for i in range(dedup.PARA_WORDS))
    para_c = " ".join(f"gamma{i}" for i in range(dedup.PARA_WORDS))
    docs = [
        (0, f"{para_a} {para_b}", "en", "web", 0),
        (1, f"{para_b} {para_c}", "en", "web", 0),   # para_b is a dup
        (2, f"{para_a} {para_b}", "en", "web", 0),   # fully duplicate doc
    ]
    docs = [(i, t, l, s, len(t)) for i, t, l, s, _ in docs]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    out = {
        r.doc_id: (r.n_paras, r.n_kept, r.text_dedup)
        for r in dedup.dedup_paragraphs(spark, str(tmp)).collect()
    }
    assert out[0] == (2, 2, f"{para_a} {para_b}")  # first doc keeps all
    assert out[1] == (2, 1, para_c)                # para_b deduped away
    assert out[2] == (2, 0, "")                    # nothing left


def test_levenshtein_hot_block_chains_and_matches_oracle(spark, tmp_path):
    """r5 guard: a block larger than LSH_BUCKET_CAP must switch to
    (prefix, doc_id)-sorted neighbor chaining, and the DuckDB oracle
    must replay BOTH branches exactly. Plants one 80-doc hot block of
    prefix-adjacent near-dups (chained branch; > cap=64) plus a small
    exact block, then requires set equality with the oracle."""
    import glob
    import shutil

    import duckdb

    from real_time_big_data_architect_spark.operators import dedup as D
    from real_time_big_data_architect_spark.plans import workload

    docs = []
    # hot block: lang=en, n_chars=100 -> one (en, 3) block of 80 docs;
    # texts differ in a trailing counter so prefix-sorted neighbors are
    # within edit distance <= LEV_MAX_DIST of each other
    for i in range(80):
        docs.append((i, "shared boilerplate prefix %02d" % i, "en", "a", 100))
    # small exact block: 3 docs in (de, 1)
    for i in range(3):
        docs.append((100 + i, "kleine %d" % i, "de", "b", 40))
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "d.dir"))
    part = glob.glob(str(tmp_path / "d.dir" / "part-*.parquet"))[0]
    shutil.move(part, str(tmp_path / "documents.parquet"))

    assert len({d[0] for d in docs if d[2] == "en"}) > D.LSH_BUCKET_CAP

    got = sorted(
        tuple(r) for r in D.dedup_levenshtein(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            workload.build_oracle_sql()["dedup_levenshtein"]
        ).fetchall()
    )
    assert got == want
    assert got  # the chained hot block really produced pairs
    # chain bound: each doc pairs with at most LSH_CHAIN_NEIGHBORS
    # successors, so the hot block emits <= n*k pairs, never ~n^2/2
    hot_pairs = [p for p in got if p[0] < 100]
    assert len(hot_pairs) <= 80 * D.LSH_CHAIN_NEIGHBORS


@pytest.mark.parametrize(
    "n", [2, dedup.LSH_BUCKET_CAP, dedup.LSH_BUCKET_CAP + 1]
)
def test_chained_pairs_case_switch_point(spark, n):
    """The hot-bucket CASE on each side of its switch point, against a
    Python reference: every one of C(n,2) pairs up to LSH_BUCKET_CAP
    members; just above it, next-LSH_CHAIN_NEIGHBORS chains in array
    order with every adjacent pair present."""
    from itertools import combinations

    ids = [7 + 3 * i for i in range(n)]  # sorted, not contiguous
    row = (
        spark.createDataFrame([(ids,)], "ids array<bigint>")
        .select(F.expr(dedup._chained_pairs_case("ids")).alias("p"))
        .first()
    )
    got = [(s.a, s.b) for s in row.p]
    if n <= dedup.LSH_BUCKET_CAP:
        want = list(combinations(ids, 2))
        assert len(want) == n * (n - 1) // 2
    else:
        k = dedup.LSH_CHAIN_NEIGHBORS
        want = [
            (ids[i], ids[j])
            for i in range(n)
            for j in range(i + 1, min(i + k, n - 1) + 1)
        ]
        assert set(zip(ids, ids[1:])) <= set(got)
        assert len(got) < n * k
    assert len(got) == len(set(got))
    assert sorted(got) == sorted(want)


def test_dup_rate_and_overlap_on_planted_corpus(spark, tmp_path_factory):
    """Planted duplication: 'web' holds text A twice + unique B;
    'docs' holds A once + unique C; a NULL-text doc in 'web' pairs
    with nothing in the overlap matrix but counts in its source's
    rate denominator (and as a dup only if another NULL exists)."""
    tmp = tmp_path_factory.mktemp("dup_rate")
    A, B, C = "shared text alpha", "unique beta", "unique gamma"
    docs = [
        (0, A, "en", "web", len(A)),
        (1, A, "en", "web", len(A)),
        (2, B, "en", "web", len(B)),
        (3, None, "en", "web", 0),
        (4, A, "en", "docs", len(A)),
        (5, C, "en", "docs", len(C)),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    rates = {r.source: r for r in dedup.dup_rate_by_source(spark, str(tmp)).collect()}
    # web: docs 0,1 are dups of each other AND of doc 4; NULL doc is
    # alone in its sentinel group -> 2 of 4 in dup groups
    assert rates["web"].n_docs == 4 and rates["web"].n_in_dup_groups == 2
    assert rates["web"].dup_rate == 0.5
    # docs: doc 4 shares A with web -> 1 of 2
    assert rates["docs"].n_docs == 2 and rates["docs"].n_in_dup_groups == 1

    overlap = {
        (r.source_a, r.source_b): r.shared_texts
        for r in dedup.cross_source_overlap(spark, str(tmp)).collect()
    }
    assert overlap == {("docs", "web"): 1}  # exactly text A


def _oracle_rows(tmp_path, name):
    import duckdb

    from real_time_big_data_architect_spark.plans import workload

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet')"
    )
    return con.execute(workload.build_oracle_sql()[name]).fetchall()


def test_minhash_lsh_hot_bucket_matches_oracle(spark, tmp_path):
    """r5c guard: the md5-replay oracle must reproduce the engine's
    CHAINED hot-bucket branch exactly, not just the small-bucket
    all-pairs path the sf0.01 fixture exercises. Plants a 90-doc
    identical-text run (> LSH_BUCKET_CAP=64 in every band bucket,
    probe-tied so chains fall back to doc_id order) plus one normal
    near-dup pair, then requires SET EQUALITY engine vs DuckDB."""
    import glob
    import shutil

    docs = [(i, "mass boilerplate subscribe footer " * 8, "en", "web", 100)
            for i in range(90)]
    normal = BASE * 4
    docs.append((500, normal, "en", "docs", len(normal)))
    docs.append((501, normal.replace("lazy", "sleepy", 1), "en", "docs",
                 len(normal)))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "d.dir"))
    part = glob.glob(str(tmp_path / "d.dir" / "part-*.parquet"))[0]
    shutil.move(part, str(tmp_path / "documents.parquet"))

    got = sorted(
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in dedup.dedup_minhash_lsh(spark, str(tmp_path)).collect()
    )
    want = sorted(map(tuple, _oracle_rows(tmp_path, "dedup_minhash_lsh")))
    assert got == want
    hot = [p for p in got if p[0] < 90]
    assert hot and len(hot) <= 90 * dedup.LSH_CHAIN_NEIGHBORS  # chained, not n^2/2
    assert (500, 501) in {(a, b) for a, b, _ in got}


def test_simhash_hot_bucket_matches_oracle(spark, tmp_path):
    """Same discipline for the SimHash banding oracle: a 90-doc
    identical-signature run must take the chained branch in BOTH
    engines and produce the identical pair set."""
    import glob
    import shutil

    docs = [(i, "identical promo text repeated often " * 6, "en", "web", 80)
            for i in range(90)]
    normal = BASE * 4
    docs.append((500, normal, "en", "docs", len(normal)))
    docs.append((501, normal.replace("lazy", "sleepy", 1), "en", "docs",
                 len(normal)))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "d.dir"))
    part = glob.glob(str(tmp_path / "d.dir" / "part-*.parquet"))[0]
    shutil.move(part, str(tmp_path / "documents.parquet"))

    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.dedup_simhash(spark, str(tmp_path)).collect()
    )
    want = sorted(map(tuple, _oracle_rows(tmp_path, "dedup_simhash")))
    assert got == want
    hot = [p for p in got if p[0] < 90]
    assert hot and len(hot) <= 90 * dedup.LSH_CHAIN_NEIGHBORS * 2


def test_star_contract_worst_case_graphs(spark):
    """The alternating star contraction (r9) on adversarial shapes: a
    long path (max-diameter worst case for min-propagation), a big
    star, a duplicate/self-loop-polluted clique chain, and two disjoint
    components — labels must equal union-find and converge within the
    MAX_CC_ROUNDS backstop."""
    import random

    from real_time_big_data_architect_spark.tables import jvm_local_df

    rng = random.Random(9)
    edges: list[tuple[int, int]] = []
    edges += [(i, i + 1) for i in range(100, 356)]          # 257-node path
    edges += [(1000, 1000 + k) for k in range(1, 64)]       # 64-node star
    chain = [2000 + k for k in range(24)]                   # cliquey chain
    edges += [(a, b) for i, a in enumerate(chain) for b in chain[i + 1 : i + 4]]
    edges += [(5000, 5001), (5001, 5002)]                   # small comp
    edges += [(e[1], e[0]) for e in edges[:40]]             # reversed dups
    edges += [(n, n) for n in (100, 1000, 5000)]            # self-loops
    rng.shuffle(edges)

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    df = jvm_local_df(
        spark, [(a, b) for a, b in edges], "u BIGINT, v BIGINT"
    )
    got = {r.vec_id: r.comp for r in dedup.star_contract(spark, df).collect()}
    nodes = {n for e in edges for n in e}
    assert set(got) == nodes  # every edge-touched node labeled
    for n in nodes:
        assert got[n] == find(n), (n, got[n], find(n))


def test_star_contract_random_graphs_match_union_find(spark):
    """Property test for the r9 star contraction: on RANDOM edge lists
    (dense ids → collision-heavy merges, self-loops and duplicate edges
    included by construction) every node's label equals path-compressed
    union-find. The fixed adversarial-shape test above locks the known
    worst cases; this one guards the shapes nobody thought of."""
    from hypothesis import given, settings, strategies as st

    from real_time_big_data_architect_spark.tables import jvm_local_df

    edge = st.tuples(
        st.integers(min_value=0, max_value=24),
        st.integers(min_value=0, max_value=24),
    )
    graphs = st.lists(edge, min_size=1, max_size=50)

    @settings(max_examples=10, deadline=None)
    @given(graphs)
    def check(edges):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a_, b_ in edges:
            ra, rb = find(a_), find(b_)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        df = jvm_local_df(spark, edges, "u BIGINT, v BIGINT")
        got = {
            r.vec_id: r.comp for r in dedup.star_contract(spark, df).collect()
        }
        # every node on a NON-self-loop edge is labeled; pure self-loop
        # nodes are (documented) absent from the output
        nodes = {n for a_, b_ in edges if a_ != b_ for n in (a_, b_)}
        assert set(got) == nodes
        for n in nodes:
            assert got[n] == find(n), (n, got[n], find(n))

    check()


def test_star_contract_empty_and_single_edge(spark):
    from real_time_big_data_architect_spark.tables import jvm_local_df

    empty = jvm_local_df(spark, [(1, 1)], "u BIGINT, v BIGINT")  # self-loop only
    assert dedup.star_contract(spark, empty).count() == 0
    one = jvm_local_df(spark, [(7, 3)], "u BIGINT, v BIGINT")
    got = {r.vec_id: r.comp for r in dedup.star_contract(spark, one).collect()}
    assert got == {7: 3, 3: 3}
