"""Property tests pinning four more semantics-critical distributed
claims against INDEPENDENT sequential Python references on arbitrary
inputs (same bar as the graph/selection/exactness property layers):

- min-label propagation ≡ union-find connected components (chains
  longer than the typical near-dup diameter force multiple rounds)
- the bucketed-carry Pareto skyline ≡ brute-force domination
- distributed prefix-sum sequence packing ≡ the sequential lay-end-
  to-end computation (window boundaries, offsets, spanning docs)
- duplicate-span detection ≡ a sequential shingle-count + interval
  merge (abutting coverage joins a span; a one-token gap splits it)
"""

from __future__ import annotations

import pytest

from hypothesis import given, settings, strategies as st

from osm_pbf_parquet_spark.operators import dedup, ordered, sampling


# --- connected components vs union-find --------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 14), st.integers(1, 14)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=20,
    )
)
@pytest.mark.slow  # r13 driver tier: operator keeps oracle-parity coverage; full tier runs this each round
def test_components_match_union_find(spark, raw_edges):
    edges = [(min(a, b), max(a, b)) for a, b in raw_edges]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: (r["canonical_id"], r["component_size"])
        for r in dedup.duplicate_components(df).collect()
    }
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comps: dict[int, set] = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    want = {
        n: (min(c), len(c)) for c in comps.values() for n in c
    }
    assert got == want


# --- Pareto skyline vs brute-force domination ---------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=25,
    )
)
@pytest.mark.slow  # r13 driver tier: operator keeps oracle-parity coverage; full tier runs this each round
def test_skyline_matches_brute_force(spark, pts):
    df = spark.createDataFrame(pts, "px long, py long")
    got = {
        (r["px"], r["py"])
        for r in ordered.skyline_min_min(df, "px", "py").collect()
    }
    dpts = set(pts)
    want = {
        p
        for p in dpts
        if not any(
            q != p and q[0] <= p[0] and q[1] <= p[1] for q in dpts
        )
    }
    assert got == want


# --- sequence packing vs sequential prefix sum --------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(1, 7), min_size=1, max_size=20),
    st.sampled_from([3, 5, 8]),
)
@pytest.mark.slow  # r13 driver tier: operator keeps oracle-parity coverage; full tier runs this each round
def test_pack_sequences_matches_sequential(spark, doc_lens, budget):
    rows = [(i + 1, " ".join(["w"] * n)) for i, n in enumerate(doc_lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["start_window"], r["start_offset"],
            r["end_window"],
        )
        for r in sampling.pack_sequences(df, budget).collect()
    }
    want = {}
    cum = 0
    for i, n in enumerate(doc_lens):
        want[i + 1] = (
            n, cum // budget, cum % budget, max(cum + n - 1, cum) // budget
        )
        cum += n
    assert got == want


# --- duplicate spans vs sequential shingle-count + interval merge --------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_duplicate_spans_match_sequential(spark, word_docs):
    k = 3
    rows = [(i + 1, " ".join(ws)) for i, ws in enumerate(word_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_id"]): (
            r["start"], r["span_end"], r["n_tokens"], r["n_shingles"]
        )
        for r in dedup.duplicate_spans(df, k=k).collect()
    }
    counts: dict[str, int] = {}
    for ws in word_docs:
        for i in range(len(ws) - k + 1):
            g = " ".join(ws[i:i + k])
            counts[g] = counts.get(g, 0) + 1
    want = {}
    for d, ws in enumerate(word_docs, start=1):
        dup_pos = [
            i + 1
            for i in range(len(ws) - k + 1)
            if counts[" ".join(ws[i:i + k])] > 1
        ]
        span_id, prev_end, members = 0, None, []
        spans: list[tuple[int, list[int]]] = []
        for p in dup_pos:
            if prev_end is None or p > prev_end + 1:
                span_id += 1
                members = []
                spans.append((span_id, members))
            members.append(p)
            prev_end = max(prev_end or 0, p + k - 1)
        for sid, mem in spans:
            end = mem[-1] + k - 1
            want[(d, sid)] = (mem[0], end, end - mem[0] + 1, len(mem))
    assert got == want


# --- r8: winnowing fingerprints ---------------------------------------------------


def _winnow_reference(text, k, w):
    import hashlib

    words = text.split(" ")
    if len(words) < k:
        grams = [text]
    else:
        grams = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
    gh = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
    ]
    sel = set()
    if len(gh) <= w:
        m = min(gh)
        sel.add((m, gh.index(m) + 1))
    else:
        for i in range(len(gh) - w + 1):
            window = gh[i:i + w]
            m = min(window)
            sel.add((m, i + window.index(m) + 1))
    return sel


def test_winnowing_matches_sequential_reference(spark):
    from osm_pbf_parquet_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got: dict[int, set] = {}
    for r in winnowing_fingerprints(docs).collect():
        got.setdefault(r["doc_id"], set()).add((r["fp"], r["pos"]))
    rows = docs.select("doc_id", "text").collect()
    assert len(got) == len(rows)
    for r in rows:
        assert got[r["doc_id"]] == _winnow_reference(
            r["text"], WINNOW_K, WINNOW_W
        ), r["doc_id"]


def test_winnowing_arrow_impl_equals_sql_impl(spark):
    """r12: the vectorized default kernel must be BIT-identical to the
    oracle-mirrored Catalyst form — corpus + crafted edge docs (empty
    text, single word, sub-k, trailing/multiple spaces, all-identical
    grams that exercise the leftmost-min tiebreak and distinct)."""
    from osm_pbf_parquet_spark.operators.text import winnowing_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge = spark.createDataFrame(
        [
            (9000001, ""),
            (9000002, "one"),
            (9000003, "a b c"),
            (9000004, "x " * 10),
            (9000005, "tok tok tok tok tok tok tok tok"),
            (9000006, "a  b   c " * 5),
        ],
        ["doc_id", "text"],
    )
    df = docs.select("doc_id", "text").union(edge)

    def rows(impl):
        out: dict[int, set] = {}
        for r in winnowing_fingerprints(df, impl=impl).collect():
            out.setdefault(r["doc_id"], set()).add((r["fp"], r["pos"]))
        return out

    assert rows("arrow") == rows("sql")


def test_winnowing_shared_span_guarantee(spark):
    """The SIGMOD'03 guarantee: two documents sharing any span of
    w + k - 1 tokens select at least one COMMON fingerprint — the
    property that makes winnowing usable for copy detection where a
    global-min fingerprint (1-perm minhash) can miss local overlap."""
    from osm_pbf_parquet_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )

    span = " ".join(f"shared{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    rows = [
        (1, "aa bb cc dd ee " + span + " ff gg hh"),
        (2, "zz yy " + span + " xx ww vv uu tt ss rr qq pp"),
        (3, "totally different words only here never overlapping at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps: dict[int, set] = {1: set(), 2: set(), 3: set()}
    for r in winnowing_fingerprints(df).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2], "shared span must yield a common fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


# --- r8: margin-based bitext mining -------------------------------------------------


def test_margin_matches_sequential_reference(spark):
    import math

    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.operators.similarity import margin_knn_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = [
        (r["a_id"], r["b_id"], r["cosine"], r["margin"])
        for r in margin_knn_pairs(
            emb, F.expr("label % 2 = 0"), k=4, top_n=20
        ).collect()
    ]
    rows = emb.collect()
    A = [(r["vec_id"], [float(x) for x in r["embedding"]])
         for r in rows if r["label"] % 2 == 0]
    B = [(r["vec_id"], [float(x) for x in r["embedding"]])
         for r in rows if r["label"] % 2 != 0]

    def norm(v):
        acc = 0.0
        for x in v:
            acc += x * x
        return math.sqrt(acc)

    def cos(x, y):
        acc = 0.0
        for p, q in zip(x, y):
            acc += p * q
        return acc

    cosmap = {
        (ai, bi): cos(av, bv) / (norm(av) * norm(bv))
        for ai, av in A for bi, bv in B
    }
    mu_a = {}
    for ai, _ in A:
        top = sorted(((cosmap[(ai, bi)], bi) for bi, _ in B),
                     key=lambda t: (-t[0], t[1]))[:4]
        s = 0.0
        for c, _ in top:
            s += c
        mu_a[ai] = s / 4.0
    mu_b = {}
    for bi, _ in B:
        top = sorted(((cosmap[(ai, bi)], ai) for ai, _ in A),
                     key=lambda t: (-t[0], t[1]))[:4]
        s = 0.0
        for c, _ in top:
            s += c
        mu_b[bi] = s / 4.0
    scored = sorted(
        (
            (round(c / ((mu_a[ai] + mu_b[bi]) / 2.0), 6), ai, bi, round(c, 6))
            for (ai, bi), c in cosmap.items()
        ),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    want = [(ai, bi, c, m) for m, ai, bi, c in scored]
    assert got == want


def test_margin_demotes_hub_vectors(spark):
    """The criterion's point (Artetxe & Schwenk §3): a hub close to
    EVERYTHING on the other side wins raw-cosine rankings but its high
    neighborhood mean divides its margin down; a mutually-exclusive
    true pair ranks above hub pairs despite lower absolute cosine."""
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.operators.similarity import margin_knn_pairs

    rows = [
        # side A (label 0): a hub near the B centroid + a true-pair vector
        (1, [1.0, 1.0, 0.02], 0),           # hub: close to every B
        (2, [0.0, 0.2, 1.0], 0),            # true pair with 12
        (3, [1.0, 0.9, 0.0], 0),
        (4, [0.9, 1.0, 0.1], 0),
        (5, [1.0, 1.1, 0.05], 0),
        # side B (label 1): a cluster near the hub + one isolated partner
        (11, [1.0, 0.95, 0.0], 1),
        (12, [0.0, 0.25, 1.0], 1),          # true pair with 2
        (13, [0.95, 1.0, 0.05], 1),
        (14, [1.05, 1.0, 0.0], 1),
        (15, [1.0, 1.05, 0.1], 1),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<double>, label int",
    )
    out = margin_knn_pairs(df, F.expr("label % 2 = 0"), k=3, top_n=5).collect()
    top = out[0]
    assert (top["a_id"], top["b_id"]) == (2, 12)
    # raw cosine would NOT put (2,12) first: hub pairs have higher cos
    assert max(r["cosine"] for r in out) > top["cosine"]


# --- r8: epoch shard plan + token budget fill (hypothesis) --------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=300), min_size=1,
             max_size=25, unique=True),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=0, max_value=7),
)
def test_epoch_shard_matches_sequential(spark, keys, n_shards, epoch):
    import hashlib

    df = spark.createDataFrame([(k,) for k in keys], ["doc_id"])
    got = sorted(
        (r["doc_id"], r["shard"], r["position"])
        for r in sampling.epoch_shard_plan(
            df, n_shards=n_shards, epoch=epoch
        ).collect()
    )
    by_shard: dict[int, list] = {}
    for k in keys:
        keyed = f"{k}:epoch-v1:{epoch}"
        hx = hashlib.md5(keyed.encode()).hexdigest()
        shard = int(hx[:15], 16) % n_shards
        by_shard.setdefault(shard, []).append((hx, k))
    want = []
    for shard, members in by_shard.items():
        for pos, (_, k) in enumerate(sorted(members)):
            want.append((k, shard, pos))
    assert got == sorted(want)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),   # doc key
            st.integers(min_value=0, max_value=12),    # token count
            st.sampled_from(["en", "fr"]),
        ),
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    ),
    st.integers(min_value=0, max_value=40),
    st.integers(min_value=0, max_value=40),
)
def test_token_budget_fill_matches_sequential(spark, docs, b_en, b_fr):
    import hashlib

    rows = [(k, " ".join(["w"] * n) if n else "", lang)
            for k, n, lang in docs]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    budgets = spark.createDataFrame(
        [("en", b_en), ("fr", b_fr)], ["lang", "token_budget"]
    )
    got = sorted(
        (r["doc_id"], r["lang"], r["n_tokens"], r["tokens_through"],
         r["token_budget"])
        for r in sampling.token_budget_fill(df, budgets).collect()
    )
    # sequential reference: hash-order prefix per group while the doc
    # STARTS strictly inside the budget. NB split(' ') on '' yields one
    # empty token in both engines, so n_tokens = max(n, 1).
    want = []
    for lang, budget in (("en", b_en), ("fr", b_fr)):
        members = sorted(
            (hashlib.md5(f"{k}:budget-v1".encode()).hexdigest(), k,
             max(n, 1))
            for k, n, l in docs if l == lang
        )
        acc = 0
        for _, k, n in members:
            if acc < budget:
                want.append((k, lang, n, acc + n, budget))
            acc += n
    assert got == sorted(want)


def test_margin_from_candidates_scale_path(spark):
    """The corpus-scale composition: margin over an ANN candidate set.
    (a) On the COMPLETE candidate set it equals the exact operator
    row-for-row; (b) fed from the LSH bucket join, the hub-demotion
    ranking survives the approximation (the true pair still wins)."""
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.operators.similarity import (
        DOT,
        NORM,
        TO_DOUBLE,
        margin_from_candidates,
        margin_knn_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    side = F.expr("label % 2 = 0")
    exact = [
        tuple(r) for r in margin_knn_pairs(emb, side, k=4, top_n=20).collect()
    ]
    # complete candidates: the same cross scoring, handed over as a frame
    a = emb.filter(side).select(
        F.col("vec_id").alias("a_id"),
        F.expr(TO_DOUBLE.format(v="embedding")).alias("av"),
    ).withColumn("anorm", F.expr(NORM.format(v="av")))
    b = emb.filter(~side).select(
        F.col("vec_id").alias("b_id"),
        F.expr(TO_DOUBLE.format(v="embedding")).alias("bv"),
    ).withColumn("bnorm", F.expr(NORM.format(v="bv")))
    cands = a.crossJoin(F.broadcast(b)).select(
        "a_id", "b_id",
        (F.expr(DOT.format(a="av", b="bv"))
         / (F.col("anorm") * F.col("bnorm"))).alias("cos"),
    )
    via_candidates = [
        tuple(r)
        for r in margin_from_candidates(cands, k=4, top_n=20).collect()
    ]
    assert via_candidates == exact


def test_margin_sub_k_endpoints_are_scored_not_dropped(spark):
    """r9 (r8 advice): an endpoint with fewer than k candidates — routine
    on LSH/IVF candidate sets — must get mu over the neighbors it HAS,
    not a NULL margin that silently drops its pairs from the top-n."""
    from osm_pbf_parquet_spark.operators.similarity import (
        margin_from_candidates,
    )

    # endpoint 1 has 1 candidate, endpoint 2 has 3: both below k=4
    rows = [
        (1, 10, 0.9),
        (2, 10, 0.8), (2, 11, 0.6), (2, 12, 0.4),
    ]
    cands = spark.createDataFrame(rows, "a_id long, b_id long, cos double")
    got = {(r["a_id"], r["b_id"]): r["margin"]
           for r in margin_from_candidates(cands, k=4, top_n=10).collect()}
    assert len(got) == len(rows)          # nothing dropped
    assert all(m is not None for m in got.values())
    # hand-computed: mu_a(1)=0.9, mu_a(2)=(0.8+0.6+0.4)/3=0.6
    # mu_b(10)=(0.9+0.8)/2=0.85, mu_b(11)=0.6, mu_b(12)=0.4
    assert got[(1, 10)] == round(0.9 / ((0.9 + 0.85) / 2), 6)
    assert got[(2, 12)] == round(0.4 / ((0.6 + 0.4) / 2), 6)


def test_gopher_rules_fire_on_constructed_violations(spark):
    """r9: each Gopher rule (Rae et al. 2021 §A.1.1) must flip `keep`
    on a document constructed to violate exactly it."""
    from osm_pbf_parquet_spark.operators.text import gopher_quality

    good = " ".join(
        ["the", "be", "to", "of"] + ["word"] * 60
    )  # 64 words, mean len ~4, no symbols, all alphabetic, 4 stop hits
    rows = [
        (1, good),
        (2, "the be " + " ".join(["word"] * 10)),        # too few words
        (3, " ".join(["the", "be"] + ["ab"] * 62)),      # mean len < 3
        (4, good + " " + " ".join(["#tag"] * 20)),       # symbol ratio
        (5, " ".join(["the", "be"] + ["123"] * 62)),     # alpha ratio
        (6, " ".join(["zig"] * 64)),                     # no stop words
        # r10 (r9 advice): the published rule counts symbol OCCURRENCES,
        # not affected words — one word carrying 8 hashes must fire
        # (8/65 > 0.1; the old word-level count saw 1/65 and passed)…
        (7, good + " w########x"),
        # …and the unicode ellipsis must count at all (7/65 > 0.1; the
        # old rule matched only ASCII '...' and saw zero)
        (8, good + " a…b…c…d…e…f…g…h"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert got[1]["keep"] is True
    for bad in (2, 3, 4, 5, 6, 7, 8):
        assert got[bad]["keep"] is False, got[bad]
    # the metric that fired is the expected one
    assert got[2]["n_words"] < 50
    assert got[3]["mean_word_len"] < 3.0
    assert got[4]["symbol_word_ratio"] > 0.1
    assert got[5]["alpha_word_ratio"] < 0.8
    assert got[6]["gopher_stopword_hits"] < 2
    assert got[7]["symbol_word_ratio"] == round(8 / 65, 4)
    assert got[8]["symbol_word_ratio"] == round(7 / 65, 4)


def test_fingerprint_decontaminate_span_guarantee(spark):
    """r9: the winnowing guarantee in the proving direction — a train
    doc sharing a >= w+k-1-token verbatim span with an eval doc can
    NEVER report n_eval_shared = 0 (any such span contributes at least
    one common selected fingerprint), so zero IS a span-cleanliness
    certificate. Doc ids follow the gate's %-20 split."""
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )

    span = " ".join(f"leak{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    rows = [
        (20, "eval doc header " + span + " eval tail words here"),  # eval
        (1, "train prefix words " + span + " train suffix"),        # dirty
        (2, " ".join(f"clean{i}" for i in range(30))),              # clean
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    tf = winnowing_fingerprints(train)
    ef = (
        winnowing_fingerprints(ev).select("fp").distinct()
        .withColumn("_hit", F.lit(1))
    )
    got = {
        r["doc_id"]: r["n_eval_shared"]
        for r in tf.join(F.broadcast(ef), "fp", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_eval_shared"))
        .collect()
    }
    assert got[1] >= 1, got    # the shared span MUST surface
    assert got[2] == 0, got    # disjoint text stays provably clean


def test_gopher_oracle_differential_on_adversarial_whitespace(spark):
    """r9: the sf corpora are well-formed, so gate parity never
    exercises empty-token paths — pin Spark↔DuckDB agreement on the
    degenerate inputs directly (double/leading/trailing spaces produce
    empty split tokens; empty text; mixed case)."""
    import duckdb

    from osm_pbf_parquet_spark.operators.text import gopher_quality
    from osm_pbf_parquet_spark.plans.pipeline_queries import _oracle_gopher

    rows = [
        (1, "a  b"),
        (2, " leading"),
        (3, "trailing "),
        (4, ""),
        (5, "the be to of and"),
        (6, "THE BE to words"),
        # r10: symbol-occurrence counting — stacked in-word hashes,
        # overlapping dot runs ('....' = one non-overlapping '...'),
        # unicode ellipses, and a mix inside one word
        (7, "w##x the ....be c…d #…#"),
        (8, "… ... .... ..... ......"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_words"], r["mean_word_len"],
                      r["symbol_word_ratio"], r["alpha_word_ratio"],
                      r["gopher_stopword_hits"], r["keep"])
        for r in gopher_quality(df).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            "SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, "
            "alpha_word_ratio, gopher_stopword_hits, keep FROM ("
            + _oracle_gopher() + ")"
        ).fetchall()
    }
    assert got == want


# --- product quantization vs sequential reference -----------------------------------


def _pq_reference(vecs, m, ks, iters, nq, k, rerank):
    """Sequential PQ reference: left-fold arithmetic throughout so every
    float op matches the engine's sequential-fold idiom exactly."""
    def sqdist(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    ids = sorted(vecs)
    dim = len(vecs[ids[0]])
    dsub = dim // m
    cb = [
        [list(vecs[i][j * dsub:(j + 1) * dsub]) for i in ids[:ks]]
        for j in range(m)
    ]
    for _ in range(iters):
        sums: dict = {}
        for i in ids:
            for j in range(m):
                sv = vecs[i][j * dsub:(j + 1) * dsub]
                d = [sqdist(sv, cb[j][c]) for c in range(ks)]
                c = d.index(min(d))  # first minimum, lowest cid
                acc = sums.setdefault((j, c), [0, [0.0] * dsub])
                acc[0] += 1
                for t in range(dsub):
                    acc[1][t] += sv[t]
        cb = [
            [
                [sums[(j, c)][1][t] / sums[(j, c)][0] for t in range(dsub)]
                if (j, c) in sums else cb[j][c]
                for c in range(ks)
            ]
            for j in range(m)
        ]
    codes = {}
    for i in ids:
        codes[i] = []
        for j in range(m):
            sv = vecs[i][j * dsub:(j + 1) * dsub]
            d = [sqdist(sv, cb[j][c]) for c in range(ks)]
            codes[i].append(d.index(min(d)))
    out = {}
    for q in ids:
        if q >= nq:
            continue
        lut = [
            [sqdist(vecs[q][j * dsub:(j + 1) * dsub], cb[j][c])
             for c in range(ks)]
            for j in range(m)
        ]
        scored = []
        for i in ids:
            if i == q:
                continue
            acc = 0.0
            for j in range(m):
                acc += lut[j][codes[i][j]]
            scored.append((acc, i))
        scored.sort()
        shortlist = [i for _, i in scored[:rerank]]
        exact = sorted((sqdist(vecs[q], vecs[i]), i) for i in shortlist)
        out[q] = [(i, d, rk + 1) for rk, (d, i) in enumerate(exact[:k])]
    return out


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-50, 50), min_size=8, max_size=8),
        min_size=6, max_size=24,
    )
)
@pytest.mark.slow  # r13 driver tier: operator keeps oracle-parity coverage; full tier runs this each round
def test_pq_matches_sequential_reference(spark, vec_lists):
    """Distributed PQ (train → encode → ADC shortlist → exact re-rank)
    ≡ the sequential reference on arbitrary integer vectors — codebook
    updates, first-min tie-breaks, empty-cluster carryover, and the
    refinement join all pinned."""
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.operators import similarity

    m, ks, iters, nq, k, rerank = 4, 3, 2, 3, 3, 5
    vecs = {i: [float(x) for x in v] for i, v in enumerate(vec_lists)}
    ref = _pq_reference(vecs, m, ks, iters, nq, k, rerank)
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = similarity.pq_adc_topk(
        df, df.filter(F.col("vec_id") < nq), k=k,
        dim=8, m=m, ks=ks, iters=iters, rerank=rerank,
    ).collect()
    got_by_q: dict = {}
    for r in got:
        got_by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["sq_dist"], r["rk"])
        )
    for q in ref:
        want = [(i, round(d, 6), rk) for i, d, rk in ref[q]]
        have = sorted(got_by_q.get(q, []), key=lambda t: t[2])
        assert have == want, f"query {q}: {have} != {want}"


def _ivfpq_reference(vecs, m, ks, iters, C, nprobe, nq, k, rerank,
                     coarse_iters=2):
    """Sequential IVFADC reference (Jégou et al. 2011 §V): L2 k-means
    coarse quantizer (init = C lowest-key vectors, ``coarse_iters``
    Lloyd rounds with means rounded back to integers — the engine's
    determinism rule), first-min L2 cell assignment, PQ trained on and
    encoding the RESIDUAL x − centroid(cell), per-probed-cell
    query-residual LUTs, ADC restricted to probed cells, exact re-rank
    on raw vectors."""
    import math

    def sqdist(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    ids = sorted(vecs)
    dim_full = len(vecs[ids[0]])
    cents = [(c, list(vecs[ids[c]])) for c in range(min(C, len(ids)))]
    for _ in range(coarse_iters):
        sums: dict = {}
        for i in ids:
            d = [sqdist(vecs[i], cv) for _, cv in cents]
            cl = d.index(min(d))
            acc = sums.setdefault(cl, [0, [0.0] * dim_full])
            acc[0] += 1
            for t in range(dim_full):
                acc[1][t] += vecs[i][t]
        cents = [
            (cid, [math.floor(sums[cid][1][t] / sums[cid][0] + 0.5)
                   for t in range(dim_full)])
            if cid in sums else (cid, cv)
            for cid, cv in cents
        ]

    cvec = dict(cents)
    cell = {}
    resid = {}
    darr = {}
    for i in ids:
        d = [sqdist(vecs[i], cv) for _, cv in cents]
        darr[i] = d
        cell[i] = cents[d.index(min(d))][0]
        resid[i] = [x - y for x, y in zip(vecs[i], cvec[cell[i]])]

    # PQ training identical to _pq_reference, but over the RESIDUALS
    dim = len(vecs[ids[0]])
    dsub = dim // m
    cb = [[list(resid[i][j * dsub:(j + 1) * dsub]) for i in ids[:ks]]
          for j in range(m)]
    for _ in range(iters):
        sums: dict = {}
        for i in ids:
            for j in range(m):
                sv = resid[i][j * dsub:(j + 1) * dsub]
                d = [sqdist(sv, cb[j][c]) for c in range(ks)]
                c = d.index(min(d))
                acc = sums.setdefault((j, c), [0, [0.0] * dsub])
                acc[0] += 1
                for t in range(dsub):
                    acc[1][t] += sv[t]
        cb = [[[sums[(j, c)][1][t] / sums[(j, c)][0] for t in range(dsub)]
               if (j, c) in sums else cb[j][c] for c in range(ks)]
              for j in range(m)]
    codes = {
        i: [
            min(range(ks),
                key=lambda c: (sqdist(resid[i][j * dsub:(j + 1) * dsub],
                                      cb[j][c]), c))
            for j in range(m)
        ]
        for i in ids
    }
    out = {}
    for q in ids:
        if q >= nq:
            continue
        # nprobe nearest cells: sort (dist, cid) lexicographically
        probed = [cid for _, cid in
                  sorted((d, cid)
                         for d, (cid, _) in zip(darr[q], cents))[:nprobe]]
        # per-probed-cell LUT over the QUERY residual q - centroid(cell)
        luts = {}
        for pc in probed:
            qr = [x - y for x, y in zip(vecs[q], cvec[pc])]
            luts[pc] = [[sqdist(qr[j * dsub:(j + 1) * dsub], cb[j][c])
                         for c in range(ks)] for j in range(m)]
        scored = []
        for i in ids:
            if i == q or cell[i] not in luts:
                continue
            lut = luts[cell[i]]
            acc = 0.0
            for j in range(m):
                acc += lut[j][codes[i][j]]
            scored.append((acc, i))
        scored.sort()
        shortlist = [i for _, i in scored[:rerank]]
        exact = sorted((sqdist(vecs[q], vecs[i]), i) for i in shortlist)
        out[q] = [(i, d, rk + 1) for rk, (d, i) in enumerate(exact[:k])]
    return out


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-50, 50), min_size=8, max_size=8)
        .filter(lambda v: any(x != 0 for x in v)),  # cosine needs norm > 0
        min_size=6, max_size=20,
    )
)
@pytest.mark.slow  # r13 driver tier: operator keeps oracle-parity coverage; full tier runs this each round
def test_ivfpq_matches_sequential_reference(spark, vec_lists):
    """Distributed IVFADC ≡ the sequential reference: cell assignment
    (first-max cosine), probe selection, the cell restriction of ADC
    candidates, and the refinement all pinned on arbitrary integer
    vectors."""
    _assert_ivfpq_matches_reference(spark, vec_lists)


def _assert_ivfpq_matches_reference(spark, vec_lists):
    """Distributed IVFADC (``ivfpq_topk``) top-k rows == the sequential
    reference's, query by query."""
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.operators import similarity

    m, ks, iters, C, nprobe, nq, k, rerank = 4, 3, 2, 3, 2, 3, 3, 5
    vecs = {i: [float(x) for x in v] for i, v in enumerate(vec_lists)}
    ref = _ivfpq_reference(vecs, m, ks, iters, C, nprobe, nq, k, rerank)
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = similarity.ivfpq_topk(
        df, df.filter(F.col("vec_id") < nq), k=k, dim=8, m=m, ks=ks,
        iters=iters, n_centroids=C, n_probe=nprobe, rerank=rerank,
    ).collect()
    got_by_q: dict = {}
    for r in got:
        got_by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["sq_dist"], r["rk"])
        )
    for q in ref:
        want = [(i, round(d, 6), rk) for i, d, rk in ref[q]]
        have = sorted(got_by_q.get(q, []), key=lambda t: t[2])
        assert have == want, f"query {q}: {have} != {want}"


def test_ivfpq_matches_sequential_reference_fixed(spark):
    """Default-tier IVFADC parity: one fixed seeded draw of 14 vectors
    around three clusters against the sequential reference (the property
    test above runs arbitrary draws in the full tier)."""
    import random

    rng = random.Random(11)
    centers = ([40] * 8, [-40] * 8, [0, 30, 0, -30, 0, 30, 0, -30])
    vec_lists = [
        [c + rng.randint(-6, 6) for c in centers[i % 3]] for i in range(14)
    ]
    _assert_ivfpq_matches_reference(spark, vec_lists)
