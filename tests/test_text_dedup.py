"""Text / dedup / similarity operator invariants."""

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_log_analyzer_mcp_spark.functions.texts import shingles_col, tokens_col
from cassandra_log_analyzer_mcp_spark.functions.vectors import cosine, lit_vector
from cassandra_log_analyzer_mcp_spark.operators import (
    curation,
    dedup,
    similarity,
    textops,
)


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([Row(text="only two")]).select(
        shingles_col(tokens_col(), 3).alias("sh")
    )
    assert df.collect()[0].sh == []


def test_shingles_count(spark):
    df = spark.createDataFrame([Row(text="a b c d e")]).select(
        shingles_col(tokens_col(), 3).alias("sh")
    )
    assert df.collect()[0].sh == ["a b c", "b c d", "c d e"]


def test_cosine_self_is_one(spark):
    v = [1.0, 2.0, 3.0]
    df = spark.range(1).select(cosine(lit_vector(v), lit_vector(v)).alias("c"))
    assert abs(df.collect()[0].c - 1.0) < 1e-12


def test_doc_repetition_hand_computed(spark):
    from cassandra_log_analyzer_mcp_spark.operators.textops import _dup_frac

    # "a b a b a b": 5 2-grams, 2 distinct -> dup 0.6; top token a: 3/6
    df = spark.createDataFrame([Row(text="a b a b a b")]).select(
        _dup_frac(tokens_col(), 2).alias("d2"),
        _dup_frac(tokens_col(), 3).alias("d3"),
    )
    r = df.collect()[0]
    assert abs(r.d2 - 0.6) < 1e-12
    assert abs(r.d3 - 0.5) < 1e-12  # 4 3-grams, 2 distinct


def test_doc_repetition_flags_loops(spark, sf_dir, monkeypatch):
    import cassandra_log_analyzer_mcp_spark.operators.textops as t

    monkeypatch.setattr(t, "documents", lambda s, d: s.createDataFrame(
        [
            Row(doc_id=0, text="spam spam spam spam spam spam"),
            Row(doc_id=1, text="all tokens here are fully distinct words"),
            Row(doc_id=2, text="x"),  # shorter than any shingle: fracs 0
        ]
    ))
    rows = {r.doc_id: r for r in t.doc_repetition(spark, sf_dir).collect()}
    assert rows[0].repetitive and rows[0].top_token_frac == 1.0
    assert not rows[1].repetitive
    # shorter than any shingle: n-gram fracs 0, but a one-token doc is
    # trivially all-one-token, so the top-token gate still fires
    assert rows[2].dup_2gram_frac == 0.0 and rows[2].top_token_frac == 1.0


def test_bm25_rare_term_dominates(spark, sf_dir):
    """The rare query term ('dup', df~5%) must outrank docs that only
    match the common terms — the idf property BM25 exists for."""
    from cassandra_log_analyzer_mcp_spark.operators.textops import (
        BM25_TOP_K,
    )

    rows = textops.bm25_search(spark, sf_dir).collect()
    assert 0 < len(rows) <= BM25_TOP_K
    assert [r.rn for r in rows] == list(range(1, len(rows) + 1))
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    has_dup = {i for i, t in docs.items() if "dup" in t.split()}
    if has_dup:
        # every retrieved doc containing the rare term scores above
        # every retrieved doc without it
        with_r = [r.score for r in rows if r.doc_id in has_dup]
        without = [r.score for r in rows if r.doc_id not in has_dup]
        assert with_r and (not without or min(with_r) > max(without))


def test_kmeans_partitions_and_improves(spark, sf_dir):
    """Cluster sizes partition the corpus, and the final clustering's
    inertia (vs float cluster means) is no worse than assigning
    everything to the seed centroids — Lloyd's monotonicity."""
    import numpy as np

    from cassandra_log_analyzer_mcp_spark.operators.similarity import (
        KMEANS_K,
        QUANT_SCALE,
    )

    out = similarity.kmeans_embeddings(spark, sf_dir).collect()
    emb = {
        r.vec_id: np.floor(np.array(r.embedding, dtype=np.float64) * QUANT_SCALE)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    assert len(out) == len(emb)
    from collections import Counter

    sizes = Counter(r.cluster for r in out)
    assert all(r.cluster_size == sizes[r.cluster] for r in out)

    seeds = np.stack([emb[i] for i in range(KMEANS_K)])
    init_cost = sum(
        float(((seeds - q) ** 2).sum(axis=1).min()) for q in emb.values()
    )
    means = {
        cl: np.mean([emb[r.vec_id] for r in out if r.cluster == cl], axis=0)
        for cl in sizes
    }
    final_cost = sum(
        float(((emb[r.vec_id] - means[r.cluster]) ** 2).sum()) for r in out
    )
    assert final_cost <= init_cost + 1e-6


def test_cluster_balanced_sample_caps_majorities(spark, sf_dir):
    """Sampled per-cluster counts concentrate near the target: clusters
    above target thin toward it, clusters at/below target keep all."""
    from collections import Counter

    from cassandra_log_analyzer_mcp_spark.operators.similarity import (
        CLUSTER_SAMPLE_TARGET,
    )

    sizes = Counter(
        r.cluster
        for r in similarity.kmeans_assignments(spark, sf_dir).collect()
    )
    kept = Counter(
        r.cluster
        for r in similarity.cluster_balanced_sample(spark, sf_dir).collect()
    )
    for cl, n in sizes.items():
        if n <= CLUSTER_SAMPLE_TARGET:
            assert kept[cl] == n  # small clusters survive whole
        else:
            # binomial(n, ~target/n): generous 3-sigma-ish envelope
            assert kept[cl] <= 3 * CLUSTER_SAMPLE_TARGET


def test_multiset_jaccard_python_recount(spark, sf_dir):
    """Every candidate pair's multiset AND set Jaccard match a pure
    Python recount over token Counters, and the repetition direction
    holds: multiset ≤ ... differs from set exactly where occurrence
    counts diverge."""
    from collections import Counter

    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        dedup_multiset_jaccard,
    )
    from cassandra_log_analyzer_mcp_spark.functions.texts import TOKEN_REGEX
    import re

    rows = dedup_multiset_jaccard(spark, sf_dir).collect()
    assert rows, "no candidate pairs at sf0.001"
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    pat = re.compile(TOKEN_REGEX)
    for r in rows:
        ca = Counter(pat.findall(texts[r.da]))
        cb = Counter(pat.findall(texts[r.db]))
        ms_min = sum((ca & cb).values())
        ms_max = sum((ca | cb).values())
        inter = len(set(ca) & set(cb))
        union = len(set(ca) | set(cb))
        assert r.ms_min == ms_min, (r.da, r.db)
        assert r.multiset_jacc_permille == 1000 * ms_min // ms_max
        assert r.set_jacc_permille == 1000 * inter // union
        assert (r.n_tokens_a, r.n_tokens_b) == (
            sum(ca.values()), sum(cb.values())
        )


def test_dedup_exact_counts(spark, sf_dir):
    out = dedup.dedup_exact(spark, sf_dir)
    docs_n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    agg = out.agg(F.sum("n_copies").alias("s")).collect()[0]
    assert agg.s == docs_n  # partition of the corpus


def test_dedup_incremental_partitions_batch(spark, sf_dir):
    """Every batch doc gets exactly one disposition; exact matches
    really are byte-identical to their corpus match."""
    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        INCR_BATCH_MOD,
    )

    rows = dedup.dedup_incremental(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    batch = {i for i in docs if i % INCR_BATCH_MOD == 0}
    assert {r.doc_id for r in rows} == batch
    assert len(rows) == len(batch)
    for r in rows:
        if r.kind == "exact":
            assert docs[r.doc_id] == docs[r.match_id]
            assert r.match_id % INCR_BATCH_MOD != 0
        elif r.kind == "near":
            assert r.jaccard >= 0.5 and r.match_id % INCR_BATCH_MOD != 0
        else:
            assert r.kind == "unique" and r.match_id == -1


def test_winnow_detects_shared_run(spark, sf_dir, monkeypatch):
    """The winnowing guarantee: two docs sharing a long token run must
    share fingerprints; disjoint docs share none."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    monkeypatch.setattr(
        dedup, "documents", lambda s, d: s.createDataFrame(
            [
                Row(doc_id=0, text=shared + " unique0 tail0"),
                Row(doc_id=1, text="head1 other1 " + shared),
                Row(doc_id=2, text="k1 k2 k3 k4 k5 k6 k7 k8 k9 k10"),
            ]
        )
    )
    rows = {(r.da, r.db): r.n_shared for r in
            dedup.dedup_winnow(spark, sf_dir).collect()}
    assert (0, 1) in rows and rows[(0, 1)] >= 2
    assert all(2 not in k for k in rows)


def test_jaccard_pairs_within_threshold(spark, sf_dir):
    rows = dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    assert all(0.8 <= r.jaccard <= 1.0 for r in rows)
    assert all(r.da < r.db for r in rows)


def test_minhash_superset_of_high_jaccard(spark, sf_dir):
    """LSH with 4 bands of 2 should recover every jaccard>=0.8 pair."""
    exact = {
        (r.da, r.db) for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    lsh = {
        (r.da, r.db) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    missed = exact - lsh
    # probabilistic guarantee: P(miss | j>=0.8) = (1-j^2)^4 <= 0.017
    assert len(missed) <= max(1, len(exact) // 10)


def test_simhash_hamming_bounds(spark, sf_dir):
    rows = dedup.dedup_simhash(spark, sf_dir).collect()
    assert all(0 <= r.hamming <= dedup.SIMHASH_MAX_HAMMING for r in rows)


def test_knn_shape_and_rank(spark, sf_dir):
    rows = similarity.knn_cosine_brute(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(similarity.KNN_N_QUERIES))
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rn)
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.sim for r in rs]
        assert sims == sorted(sims, reverse=True) or len(set(sims)) < len(sims)
        assert all(-1.001 <= s <= 1.001 for s in sims)


def test_ann_results_subset_of_bucketmates(spark, sf_dir):
    rows = similarity.ann_lsh_cosine(spark, sf_dir).collect()
    assert all(r.rn <= similarity.ANN_TOP_K for r in rows)
    assert all(r.q_id != r.vec_id for r in rows)


def test_ivf_structure_and_recall(spark, sf_dir):
    """IVF probes 4 of 16 cells yet should keep most true neighbors:
    the synthetic embeddings are clustered, so neighbors co-assign.
    Measured recall@5 vs brute force is 92% on this data; bound at 80%.
    """
    ivf = similarity.ann_ivf_cosine(spark, sf_dir).collect()
    assert all(r.rn <= similarity.IVF_TOP_K for r in ivf)
    assert all(r.q_id != r.vec_id for r in ivf)
    brute_top = {}
    for r in similarity.knn_cosine_brute(spark, sf_dir).collect():
        if r.rn <= similarity.IVF_TOP_K:
            brute_top.setdefault(r.q_id, set()).add(r.vec_id)
    ivf_top = {}
    for r in ivf:
        ivf_top.setdefault(r.q_id, set()).add(r.vec_id)
    hits = sum(len(brute_top[q] & ivf_top.get(q, set())) for q in brute_top)
    total = sum(len(v) for v in brute_top.values())
    assert hits / total >= 0.8


def test_quantized_knn_recall_vs_exact(spark, sf_dir):
    """int8 quantization of unit vectors perturbs cosine by <1%, so
    top-10 overlap with the exact path should stay high."""
    brute = {}
    for r in similarity.knn_cosine_brute(spark, sf_dir).collect():
        brute.setdefault(r.q_id, set()).add(r.vec_id)
    quant = {}
    for r in similarity.knn_quantized_int8(spark, sf_dir).collect():
        quant.setdefault(r.q_id, set()).add(r.vec_id)
    assert set(quant) == set(brute)
    hits = sum(len(brute[q] & quant[q]) for q in brute)
    total = sum(len(v) for v in brute.values())
    assert hits / total >= 0.8


def test_lang_id_predictions_valid(spark, sf_dir):
    rows = textops.lang_id(spark, sf_dir).collect()
    from cassandra_log_analyzer_mcp_spark.functions.texts import LANG_STOPWORDS

    assert all(r.pred_lang in LANG_STOPWORDS for r in rows)


def test_vocab_top_tokens_ranked(spark, sf_dir):
    rows = sorted(
        textops.vocab_top_tokens(spark, sf_dir).collect(), key=lambda r: r.rk
    )
    assert rows and rows[0].rk == 1
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
    occ = [r.n_occurrences for r in rows]
    assert occ == sorted(occ, reverse=True)
    assert all(r.n_docs <= r.n_occurrences for r in rows)


def test_doc_length_histogram_partitions_corpus(spark, sf_dir):
    rows = textops.doc_length_histogram(spark, sf_dir).collect()
    docs_n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == docs_n
    assert all(r.bucket_lo % textops.HIST_BUCKET_TOKENS == 0 for r in rows)


def test_corpus_curation_gates(spark, sf_dir):
    rows = curation.corpus_curation(spark, sf_dir).collect()
    assert rows, "curation should keep a non-empty corpus"
    keepers = {
        r.keeper_id for r in dedup.dedup_exact(spark, sf_dir).collect()
    }
    for r in rows:
        assert r.quality >= curation.QUALITY_MIN
        assert curation.TOKENS_MIN <= r.n_tokens <= curation.TOKENS_MAX
        assert r.doc_id in keepers
        assert r.n_copies >= 1


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3-4-5 (diameter forces several propagation rounds)
    # plus an isolated pair 10-11
    pairs = spark.createDataFrame(
        [Row(da=a, db=b) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]]
    )
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        1: (1, 5), 2: (1, 5), 3: (1, 5), 4: (1, 5), 5: (1, 5),
        10: (10, 2), 11: (10, 2),
    }


def test_corpus_sample_downsamples_english(spark, sf_dir):
    totals = {
        r.lang: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    kept = {
        r.lang: r.n
        for r in curation.corpus_sample(spark, sf_dir)
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # en keeps ~1/2, the rest ~3/4 (binomial slack on tiny strata)
    assert 0.3 <= kept["en"] / totals["en"] <= 0.7
    for lg in totals:
        if lg != "en":
            assert 0.5 <= kept[lg] / totals[lg] <= 1.0
    # deterministic: a second run returns the identical doc set
    a = {r.doc_id for r in curation.corpus_sample(spark, sf_dir).collect()}
    b = {r.doc_id for r in curation.corpus_sample(spark, sf_dir).collect()}
    assert a == b


def test_train_test_split_partitions_corpus(spark, sf_dir):
    rows = curation.train_test_split(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n  # every doc assigned exactly once
    by_split = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + 1
    assert set(by_split) == {"train", "valid", "test"}
    assert by_split["train"] > by_split["valid"]
    assert by_split["train"] > by_split["test"]


def test_decontaminate_flags_only_train_docs(spark, sf_dir):
    rows = curation.decontaminate(spark, sf_dir).collect()
    for r in rows:
        assert r.doc_id % curation.EVAL_MOD != 0  # never flags eval docs
        assert r.n_shared_grams >= 1
        assert r.n_eval_docs >= 1


def test_decontaminate_fuzzy_flags_cross_split_near_dups(spark, sf_dir):
    """Fuzzy decontamination flags only TRAIN docs, every flag is
    backed by a real eval near-dup (jaccard >= the shared verify
    bar), and each flagged train doc appears in dedup_minhash_lsh's
    pair set with its matching eval doc — the composition really is
    the graded dedup machinery pointed across the split."""
    rows = curation.decontaminate_fuzzy(spark, sf_dir).collect()
    assert rows  # non-vacuous at gate scale (the FUZZY_EVAL_MOD dial)
    pairs = {
        tuple(sorted((r.da, r.db)))
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    for r in rows:
        assert r.doc_id % curation.FUZZY_EVAL_MOD != 0
        assert r.n_eval_near >= 1
        assert r.max_jaccard >= dedup.MINHASH_VERIFY_MIN
        assert any(
            r.doc_id in p
            and any(x % curation.FUZZY_EVAL_MOD == 0 for x in p)
            for p in pairs
        )


def test_log_templates_collapse_numbers(spark):
    from tests.test_analysis import _logs_df, TS
    from cassandra_log_analyzer_mcp_spark.operators import analysis

    rows = [
        ("n0", "WARN", "GC pause of 1213ms exceeded threshold", TS, 1),
        ("n0", "WARN", "GC pause of 998ms exceeded threshold", TS, 2),
        ("n0", "INFO", "Completed flushing memtable to disk", TS, 3),
    ]
    got = {
        (r.level, r.template): r.n
        for r in analysis.log_templates(_logs_df(spark, rows)).collect()
    }
    assert got == {
        ("WARN", "GC pause of <NUM>ms exceeded threshold"): 2,
        ("INFO", "Completed flushing memtable to disk"): 1,
    }


def test_dedup_normalized_collapses_formatting(spark):
    docs = spark.createDataFrame([
        Row(doc_id=1, text="Hello,  World!"),
        Row(doc_id=2, text="hello world"),
        Row(doc_id=3, text="HELLO---WORLD"),
        Row(doc_id=4, text="different text"),
    ])
    orig = dedup.documents
    try:
        dedup.documents = lambda s, d: docs
        got = {
            r.keeper_id: r.n_copies
            for r in dedup.dedup_normalized(spark, "x").collect()
        }
    finally:
        dedup.documents = orig
    assert got == {1: 3, 4: 1}


def test_doc_rarity_bounds(spark, sf_dir):
    rows = textops.doc_rarity(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows:
        assert r.n_distinct_tokens >= 1
        assert 1.0 <= r.mean_df <= n_docs
        assert 0.0 <= r.hapax_ratio <= 1.0


def test_quality_score_ranges(spark, sf_dir):
    rows = textops.quality_score(spark, sf_dir).collect()
    for r in rows:
        assert 0 <= r.punct_ratio <= 1
        assert 0 <= r.uniq_ratio <= 1
        assert 0 <= r.quality <= 1.01


def test_repeated_ngrams_counts_cross_doc_spans(spark, sf_dir, monkeypatch):
    import cassandra_log_analyzer_mcp_spark.operators.textops as t

    # shared 8-token span across docs 1 and 2 (twice in doc 2), plus a
    # doc-local repeat in doc 3 that must NOT be reported
    span = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{span} x y z"),
            Row(doc_id=2, text=f"{span} q {span}"),
            Row(doc_id=3, text=f"local only {span.replace('w', 'v')} "
                               f"pad {span.replace('w', 'v')}"),
        ]
    )
    monkeypatch.setattr(
        "cassandra_log_analyzer_mcp_spark.operators.textops.documents",
        lambda spark, sf_dir: docs,
    )
    got = {r.gram: r for r in t.repeated_ngrams(spark, sf_dir).collect()}
    assert span in got
    assert got[span].n_docs == 2 and got[span].n_occurrences == 3
    assert got[span].example_doc == 1
    v_span = span.replace("w", "v")
    assert v_span not in got  # repeated only within one doc


def test_ann_pq_recall_after_rerank(spark, sf_dir):
    """ADC shortlist + exact rerank must recover most of the true
    top-5 (measured 0.88 at sf0.01, 0.8+ at sf0.001 where the
    shortlist covers more of the corpus)."""
    exact = {
        (r.q_id, r.vec_id)
        for r in similarity.knn_quantized_int8(spark, sf_dir)
        .filter(F.col("rn") <= similarity.PQ_TOP_K)
        .collect()
    }
    pq = {
        (r.q_id, r.vec_id)
        for r in similarity.ann_pq_cosine(spark, sf_dir).collect()
    }
    assert len(exact & pq) / len(exact) >= 0.7


def test_importance_resample_mix(spark, sf_dir):
    """Copy counts follow the per-source weights: src0 ≈ half kept
    (0 or 1 copies), src3 ≈ 2.5× (2 or 3), others exactly 1 — and the
    result is deterministic across invocations."""
    out = curation.importance_resample(spark, sf_dir)
    per_src = {
        r.source: r
        for r in out.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_rows"),
            F.min("n_copies").alias("mn"),
            F.max("n_copies").alias("mx"),
        )
        .collect()
    }
    assert per_src["src0"].mn == 1 and per_src["src0"].mx == 1  # survivors
    assert per_src["src3"].mn >= 2 and per_src["src3"].mx <= 3
    for s, r in per_src.items():
        if s not in ("src0", "src3"):
            assert r.mn == r.mx == 1 and r.n_rows == r.n_docs
    again = curation.importance_resample(spark, sf_dir)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_connected_components_adversarial_long_chain(spark):
    """A 64-node path graph has diameter 63 — plain min-label
    propagation would need 63 rounds (far past CLUSTER_MAX_ITERS);
    large-star/small-star contraction must converge in O(log² n)
    rounds within the cap."""
    pairs = spark.createDataFrame(
        [Row(da=i, db=i + 1) for i in range(63)]
    )
    got = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup.connected_components(pairs).collect()
    )
    assert got == [(i, 0, 64) for i in range(64)]


def test_pii_scrub_redacts_all_types(spark, sf_dir):
    from cassandra_log_analyzer_mcp_spark.operators import textops

    rows = {r.doc_id: r for r in textops.pii_scrub(spark, sf_dir).collect()}
    # doc 105 = 3*5*7: carries every PII type exactly once
    r = rows[105]
    assert (r.n_emails, r.n_ips, r.n_phones) == (1, 1, 1)
    assert "<EMAIL>" in r.scrubbed and "<IP>" in r.scrubbed
    assert "<PHONE>" in r.scrubbed
    assert "@example.com" not in r.scrubbed
    assert "555-" not in r.scrubbed
    # doc 1: clean — untouched text, zero counts
    r1 = rows[1]
    assert (r1.n_emails, r1.n_ips, r1.n_phones) == (0, 0, 0)
    assert "<" not in r1.scrubbed


def test_containment_dominates_jaccard(spark, sf_dir):
    """C(A,B) = |A∩B|/|A| ≥ J(A,B) always (the union is at least as
    large as either set); every verified near-dup pair must appear in
    the containment view with max-containment ≥ its jaccard."""
    from cassandra_log_analyzer_mcp_spark.operators import dedup as dd

    jac = {
        (r.da, r.db): r.jaccard
        for r in dd.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    cont = {
        (r.da, r.db): max(r.containment_a, r.containment_b)
        for r in dd.minhash_containment(spark, sf_dir).collect()
    }
    assert cont, "expected containment pairs"
    for pair, c in cont.items():
        if pair in jac:
            assert c >= jac[pair] - 1e-9


def test_repeated_span_coverage_bounds(spark, sf_dir):
    """Coverage is in [0,1] and covered_tokens never exceeds n_tokens."""
    from cassandra_log_analyzer_mcp_spark.operators import textops

    for r in textops.repeated_span_coverage(spark, sf_dir).collect():
        assert 0.0 <= r.coverage <= 1.0
        assert r.covered_tokens <= r.n_tokens


def test_repeated_span_coverage_inline_corpus(spark):
    """Known geometry: doc 0 and doc 1 are identical 10-token docs
    (full coverage), doc 2 shares only its first 8 tokens with them
    (coverage 8/12), doc 3 shares nothing (coverage 0)."""
    import cassandra_log_analyzer_mcp_spark.operators.textops as t

    shared = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=shared + " i j"),
            Row(doc_id=1, text=shared + " i j"),
            Row(doc_id=2, text=shared + " x y z w"),
            Row(doc_id=3, text="p q r s t u v w0 w1 w2"),
        ]
    )
    orig = t.documents
    try:
        t.documents = lambda s_, d: docs
        got = {
            r.doc_id: r
            for r in t.repeated_span_coverage(spark, "unused").collect()
        }
    finally:
        t.documents = orig
    assert got[0].coverage == 1.0 and got[1].coverage == 1.0
    assert got[2].n_tokens == 12 and got[2].covered_tokens == 8
    assert abs(got[2].coverage - 8 / 12) < 1e-12
    assert got[3].coverage == 0.0 and got[3].covered_tokens == 0


def test_editdist_pairs_threshold_and_prefilter(spark):
    """editdist_pairs keeps a typo-level pair, drops a rewrite, and
    the length prefilter alone kills a pair whose size gap exceeds
    the budget (the DP never needs to run for it)."""
    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        EDIT_DEN,
        EDIT_NUM,
        editdist_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 3  # 132 chars
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base.replace("quick", "quack", 1)),  # dist 1
            Row(doc_id=3, text="a completely different sentence."),
            Row(doc_id=4, text=base + base),  # 2x length: prefilter kills
        ]
    )
    cand = spark.createDataFrame(
        [Row(da=1, db=2), Row(da=1, db=3), Row(da=1, db=4)]
    )
    got = {
        (r.da, r.db): r.edit_dist
        for r in editdist_pairs(cand, docs).collect()
    }
    assert got == {(1, 2): 1}
    # the kept pair satisfies the exact integer ratio rule
    assert EDIT_DEN * 1 <= EDIT_NUM * len(base)


def test_documents_corpus_is_pure_ascii(spark, sf_dir):
    """Parity precondition for dedup_editdist: DuckDB's levenshtein
    counts BYTES, Spark counts CHARS — equal only on ASCII. If a
    testdata drop ever ships non-ASCII documents, this fails before
    the oracle mismatch confuses anyone."""
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    n = (
        documents(spark, sf_dir)
        .filter(F.octet_length("text") != F.length("text"))
        .count()
    )
    assert n == 0


def test_covered_token_counts_matches_brute_force(spark):
    """Property: the running-max-end interval-union sweep equals the
    brute-force set union of [pos, pos+k) for adversarial position
    sets (adjacent, overlapping, nested, gapped spans)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cassandra_log_analyzer_mcp_spark.operators.textops import (
        covered_token_counts,
    )

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.integers(min_value=0, max_value=40),
                min_size=1,
                max_size=15,
                unique=True,
            ),
            min_size=1,
            max_size=4,
        ),
        st.integers(min_value=1, max_value=9),
    )
    def run(doc_positions, k):
        rows = [
            Row(doc_id=d, pos=p)
            for d, ps in enumerate(doc_positions)
            for p in ps
        ]
        got = {
            r.doc_id: r.covered_tokens
            for r in covered_token_counts(
                spark.createDataFrame(rows), k
            ).collect()
        }
        want = {
            d: len({t for p in ps for t in range(p, p + k)})
            for d, ps in enumerate(doc_positions)
        }
        assert got == want

    run()


def test_mega_gram_routes_through_broadcast_tier(spark):
    """Skew split: a gram present in EVERY document must reach the
    broadcast tier (map-side, no shuffle bucket) while rarer
    duplicated grams keep the ordinary shuffle join — and the union
    must equal the unsplit join's hits exactly."""
    from pyspark.sql import functions as F

    from cassandra_log_analyzer_mcp_spark.operators import textops

    boiler = " ".join(f"b{i}" for i in range(textops.REPEAT_K))
    rows = [
        # every doc opens with the same REPEAT_K-token boilerplate
        Row(doc_id=i, text=boiler + f" u{i}a u{i}b u{i}c") for i in range(20)
    ]
    # one pair shares an additional rare span
    rare = " ".join(f"r{i}" for i in range(textops.REPEAT_K))
    rows += [
        Row(doc_id=100, text=rare + " zz1 zz2"),
        Row(doc_id=101, text=rare + " qq1 qq2"),
    ]
    docs = spark.createDataFrame(rows)
    grams = docs.select(
        "doc_id",
        F.posexplode(
            textops.shingles_col(textops.tokens_col(), textops.REPEAT_K)
        ).alias("pos", "gram"),
    )
    split = textops.duplicated_gram_hits(grams, hot_df=5)
    unsplit = textops.duplicated_gram_hits(grams, hot_df=10**9)
    got = sorted((r.doc_id, r.pos) for r in split.collect())
    want = sorted((r.doc_id, r.pos) for r in unsplit.collect())
    assert got == want
    assert len(got) > 0
    # the boilerplate gram (df=20 > 5) flows through the broadcast arm
    plan = split._sc._jvm.PythonSQLUtils.explainString(
        split._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan


def test_repeated_spans_merged_geometry(spark):
    """Two docs share a 12-token prefix (five overlapping 8-grams →
    ONE merged [0,12) span) and a disjoint 8-token run after unique
    middles (second island); a third doc shares nothing."""
    import cassandra_log_analyzer_mcp_spark.operators.textops as t

    pre = " ".join(f"p{i}" for i in range(12))
    run = " ".join(f"s{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"{pre} u0a u0b u0c {run}"),
            Row(doc_id=1, text=f"{pre} v0a v0b v0c {run}"),
            Row(doc_id=2, text=" ".join(f"w{i}" for i in range(16))),
        ]
    )
    orig = t.documents
    try:
        t.documents = lambda s_, d: docs
        rows = t.repeated_spans_merged(spark, f"unused_{id(docs)}").collect()
    finally:
        t.documents = orig
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 2 not in by_doc
    for d in (0, 1):
        spans = sorted(
            (r.span_start, r.span_end_excl, r.n_grams) for r in by_doc[d]
        )
        # [0,12) from 5 merged grams; [15,23) from the single run gram
        assert spans == [(0, 12, 5), (15, 23, 1)]


def test_sequence_packing_invariants(spark, sf_dir):
    """Greedy-packing contract: pack token sums never exceed CTX
    except for singleton truncated docs; within a block, a pack
    break is only allowed because the next doc would not fit."""
    from cassandra_log_analyzer_mcp_spark.operators import curation

    rows = curation.sequence_packing(spark, sf_dir).collect()
    by_pack = {}
    for r in rows:
        by_pack.setdefault((r.block_id, r.pack_id), []).append(r)
    for (_, _), members in by_pack.items():
        tot = sum(r.n_tokens for r in members)
        if tot > curation.PACK_CTX_TOKENS:
            assert len(members) == 1 and members[0].truncated
    # break minimality: doc at pack_pos==1 (pack_id>1) must overflow
    # its block's previous pack
    prev_sum = {}
    for r in sorted(rows, key=lambda r: (r.block_id, r.doc_id)):
        key = (r.block_id, r.pack_id)
        if r.pack_pos == 1 and r.pack_id > 1:
            assert (
                prev_sum[(r.block_id, r.pack_id - 1)] + r.n_tokens
                > curation.PACK_CTX_TOKENS
            )
        prev_sum[key] = prev_sum.get(key, 0) + r.n_tokens


def test_ann_ivf_pq_recall(spark, sf_dir):
    """The double-pruned hybrid (cells bound candidates, codes bound
    cost) still recovers most of the true int8 top-5 (measured 0.76
    at sf0.001 — below the single-stage indexes by design, since both
    prune losses stack)."""
    from pyspark.sql.window import Window

    from cassandra_log_analyzer_mcp_spark.functions.vectors import dot_long

    quant = similarity._quantized(spark, sf_dir)
    qs = quant.filter(
        F.col("vec_id") < similarity.ANN_N_QUERIES
    ).select(F.col("vec_id").alias("q_id"), F.col("q").alias("qq"))
    pairs = (
        quant.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id",
            dot_long(F.col("qq"), F.col("q")).alias("d"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d").desc(), F.col("vec_id"))
    exact = {
        (r.q_id, r.vec_id)
        for r in pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= similarity.PQ_TOP_K)
        .collect()
    }
    hyb = {
        (r.q_id, r.vec_id)
        for r in similarity.ann_ivf_pq_cosine(spark, sf_dir).collect()
    }
    assert len(exact & hyb) / len(exact) >= 0.6


def test_decontaminate_bloom_superset_of_exact(spark, sf_dir, monkeypatch):
    """Bloom membership must be a strict superset of exact membership
    (no contaminated doc missed), with per-gram counts >= exact."""
    shared = "alpha beta gamma delta epsilon"
    monkeypatch.setattr(
        curation, "documents", lambda s, d: s.createDataFrame(
            [
                Row(doc_id=0, text=shared + " eval tail words here"),  # eval
                Row(doc_id=1, text="intro words then " + shared),      # hit
                Row(doc_id=2, text="q1 q2 q3 q4 q5 q6 q7 q8"),         # clean
                Row(doc_id=97, text="x1 x2 x3 x4 x5 x6 x7"),           # eval
            ]
        )
    )
    rows = {r.doc_id: r for r in
            curation.decontaminate_bloom(spark, sf_dir).collect()}
    exact = {r.doc_id: r.n_shared_grams for r in
             curation.decontaminate(spark, sf_dir).collect()}
    assert 1 in rows and rows[1].contaminated
    assert rows[1].n_exact_grams == exact[1] == 1  # one shared 5-gram
    for r in rows.values():
        assert r.n_bloom_grams >= r.n_exact_grams
    # every exact-flagged doc appears in the bloom output
    assert set(exact) <= set(rows)


def test_heavy_hitters_bounds_contain_truth(spark, sf_dir):
    """Mergeable-summary guarantee: for every reported token,
    lb <= true count <= ub; and every token whose true count exceeds
    the reported tokens' minimum ub is guaranteed to appear."""
    hh = {r.t: (r.lb, r.ub) for r in
          textops.vocab_top_tokens_mergeable(spark, sf_dir).collect()}
    truth = {
        r.token: r.n_occurrences
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("raw"))
        .select(F.regexp_extract("raw", "[A-Za-z0-9]+", 0).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token").agg(F.count("*").alias("n_occurrences"))
        .collect()
    }
    assert hh
    for t, (lb, ub) in hh.items():
        assert lb <= truth[t] <= ub, (t, lb, truth[t], ub)
    # completeness: any token truly above every reported ub must be in
    # the report (it cannot have been dropped everywhere)
    min_ub = min(ub for _, ub in hh.values())
    for t, n in truth.items():
        if n > min_ub:
            assert t in hh, (t, n, min_ub)


def test_bpe_train_merges_hand_computed(spark, sf_dir, monkeypatch):
    """Known corpus: 'a b' dominates round 0; the fused symbol then
    pairs with itself and wins round 1 (greedy left-to-right, so
    'ab ab ab' fuses as (abab)(ab))."""
    monkeypatch.setattr(
        textops, "documents", lambda s, d: s.createDataFrame(
            [
                Row(doc_id=0, text="a b a b a b c"),
                Row(doc_id=1, text="a b a b a b d"),
            ]
        )
    )
    # a sentinel dir keys the memo away from the REAL sf_dir: the
    # monkeypatch reverts but _BPE_CACHE would otherwise keep the toy
    # corpus under (session, sf_dir) and poison every later consumer
    # (bpe_encode / tokenizer_fertility_eval) in the same session
    rows = (
        textops.bpe_train_merges(spark, "memo://bpe-toy")
        .orderBy("round")
        .collect()
    )
    assert (rows[0].left, rows[0].right, rows[0].n_pairs) == ("a", "b", 6)
    assert (rows[1].left, rows[1].right) == ("a b", "a b")
    assert rows[1].n_pairs == 4  # two per doc: (ab,ab),(ab,ab) overlaps


def test_pca_matches_numpy_dominant_eigenvector(spark, sf_dir):
    """The integer power iteration must land on the true dominant
    eigendirection of the quantized Gramian: cosine between the
    integer iterate and numpy's leading eigenvector > 0.999, and the
    graded projections must equal q . v exactly."""
    import numpy as np

    quant = similarity._quantized(spark, sf_dir)
    Q = np.array(
        [r.q for r in quant.orderBy("vec_id").collect()], dtype=np.int64
    )
    gram = similarity._gram_matrix(quant)
    assert np.array_equal(np.array(gram), Q.T @ Q)

    v = np.array(similarity._power_iterate(gram), dtype=np.float64)
    w, vecs = np.linalg.eigh(np.array(gram, dtype=np.float64))
    lead = vecs[:, np.argmax(w)]
    cos = abs(v @ lead) / (np.linalg.norm(v) * np.linalg.norm(lead))
    assert cos > 0.999, cos

    proj = {
        r.vec_id: r.proj
        for r in similarity.embedding_pca_project(spark, sf_dir).collect()
    }
    expect = Q @ np.array(similarity._power_iterate(gram), dtype=np.int64)
    got = np.array([proj[i] for i in sorted(proj)], dtype=np.int64)
    assert np.array_equal(got, expect)


def test_ivf_append_preserves_existing_files(spark, sf_dir, tmp_path):
    """Append maintenance: the arrival batch's files land INSIDE the
    existing cell directories without touching the initial build's
    files (same inodes), and the appended layout holds exactly the
    full assignment."""
    import os

    assign, _ = similarity._ivf_index_and_probes(spark, sf_dir)
    path = str(tmp_path / "idx")
    arrival = F.col("vec_id") % similarity.IVF_APPEND_MOD == 0
    (
        assign.filter(~arrival)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )

    def inodes():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.stat(p).st_ino
        return out

    before = inodes()
    (
        assign.filter(arrival)
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )
    after = inodes()
    assert before
    for p, ino in before.items():
        assert after.get(p) == ino, p
    assert len(after) > len(before)
    assert spark.read.parquet(path).count() == assign.count()


def test_surprisal_mega_bigram_routes_through_broadcast_tier(
    spark, sf_dir, monkeypatch
):
    """doc_surprisal's skew split: a bigram occurring in every doc
    must flow through the broadcast arm while the tail keeps the
    shuffle join — and the tiered result must equal the unsplit
    computation exactly."""
    import cassandra_log_analyzer_mcp_spark.operators.textops as t

    rows = [
        Row(doc_id=i, text=f"common pair u{i}a u{i}b u{i}c")
        for i in range(30)
    ]
    monkeypatch.setattr(t, "documents", lambda s, d: s.createDataFrame(rows))
    split = t.doc_surprisal(spark, sf_dir, hot_c=5)
    unsplit = t.doc_surprisal(spark, sf_dir, hot_c=10**9)
    got = sorted(map(tuple, split.collect()))
    want = sorted(map(tuple, unsplit.collect()))
    assert got == want and len(got) == 30


def test_semantic_dedup_survivor_invariants(spark, sf_dir):
    """The drop rule (a lower-id near neighbor exists) implies: docs
    with no near neighbor are never dropped, the globally-lowest id is
    never dropped, and at least one near-dup pair exists in the
    synthetic corpus (the threshold is not vacuous)."""
    from cassandra_log_analyzer_mcp_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = semantic_dedup(spark, sf_dir).collect()
    by_id = {r.vec_id: r for r in rows}
    assert any(r.n_near > 0 for r in rows)
    assert any(r.dropped for r in rows)
    for r in rows:
        if r.n_near == 0:
            assert not r.dropped
    assert not by_id[min(by_id)].dropped


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Probing the Hamming-1 buckets must never lose a single-probe
    neighbor and should recover strictly more brute-force top-K mass
    on the test corpus."""
    from cassandra_log_analyzer_mcp_spark.operators.similarity import (
        ann_lsh_cosine,
        ann_lsh_multiprobe,
        knn_cosine_brute,
        ANN_TOP_K,
    )

    def pairs(df):
        return {(r.q_id, r.vec_id) for r in df.collect()}

    brute = {
        (r.q_id, r.vec_id)
        for r in knn_cosine_brute(spark, sf_dir).collect()
        if r.rn <= ANN_TOP_K
    }
    single = pairs(ann_lsh_cosine(spark, sf_dir))
    multi = pairs(ann_lsh_multiprobe(spark, sf_dir))
    # brute covers only the KNN query ids; compare on the overlap
    qids = {q for q, _ in brute}
    s_hit = len(brute & single)
    m_hit = len(brute & multi)
    assert m_hit >= s_hit
    assert m_hit > 0
    del qids
    # rank-wise dominance: multi's candidate pool is a superset, so
    # at every (query, rank) its reported sim is >= single-probe's
    from cassandra_log_analyzer_mcp_spark.operators.similarity import (
        ann_lsh_cosine as _s,
        ann_lsh_multiprobe as _m,
    )

    s_sim = {(r.q_id, r.rn): r.sim for r in _s(spark, sf_dir).collect()}
    m_sim = {(r.q_id, r.rn): r.sim for r in _m(spark, sf_dir).collect()}
    for key, sv in s_sim.items():
        assert key in m_sim and m_sim[key] >= sv


def test_pagerank_hub_dominates_and_mass_is_bounded(spark):
    """Structural invariants of the integer PageRank iteration on a
    star graph: the hub outranks every leaf, leaves tie exactly (the
    graph is symmetric under leaf permutation and the arithmetic is
    integer-deterministic), and total mass stays within the floored
    fixed-point envelope (≤ n·SCALE, > n·base)."""
    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        PR_SCALE,
        pagerank_ranks,
    )

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "da long, db long"
    )
    ranks, _deg = pagerank_ranks(pairs)
    rows = {r.u: r.r for r in ranks.collect()}
    hub, leaves = rows[0], [rows[i] for i in range(1, 9)]
    assert all(hub > leaf for leaf in leaves)
    assert len(set(leaves)) == 1
    n = len(rows)
    base = (15 * PR_SCALE) // 100
    assert n * base < sum(rows.values()) <= n * PR_SCALE


def test_ivf_delete_masks_tombstones_and_changes_results(spark, sf_dir):
    """The tombstone mask must be load-bearing: no deleted vec_id in
    any top-K list, and at least one list differs from the undeleted
    index (otherwise the test proves nothing about masking)."""
    from cassandra_log_analyzer_mcp_spark.operators.similarity import (
        IVF_DELETE_MOD,
        ann_ivf_cosine,
        ann_ivf_delete,
    )

    deleted = ann_ivf_delete(spark, sf_dir).collect()
    assert deleted
    assert all(r.vec_id % IVF_DELETE_MOD != 0 for r in deleted)

    full = {(r.q_id, r.rn): r.vec_id for r in ann_ivf_cosine(spark, sf_dir).collect()}
    masked = {(r.q_id, r.rn): r.vec_id for r in deleted}
    assert any(full.get(k) != v for k, v in masked.items())


def test_skyline_matches_brute_force_with_ties(spark):
    """Exact dominance semantics on a crafted point set: duplicates
    of a frontier point BOTH survive (neither dominates the other),
    a point matching a frontier point on one axis but worse on the
    other dies, and the result equals the O(n²) brute force."""
    from cassandra_log_analyzer_mcp_spark.operators.textops import (
        pareto_frontier,
    )

    pts = [
        (1, 10, 0.9),   # frontier
        (2, 10, 0.9),   # exact duplicate — must ALSO survive
        (3, 5, 0.5),    # frontier (fewer tokens)
        (4, 10, 0.8),   # dominated by 1 (same t, lower q)
        (5, 6, 0.5),    # dominated by 3 (same q, more t)
        (6, 4, 0.2),    # frontier (fewest tokens)
        (7, 20, 0.95),  # frontier (highest quality)
    ]
    feats = spark.createDataFrame(pts, "doc_id long, t long, q double")
    got = {r.doc_id for r in pareto_frontier(feats).collect()}

    brute = {
        a[0]
        for a in pts
        if not any(
            b[2] >= a[2] and b[1] <= a[1] and (b[2] > a[2] or b[1] < a[1])
            for b in pts
        )
    }
    assert got == brute == {1, 2, 3, 6, 7}


def test_cms_never_underestimates_and_merges(spark, sf_dir):
    """CMS invariants outside the gate: the estimate is ≥ truth for
    every token (min over rows of a superset count), the tiny gate
    width genuinely collides, and the sketch MERGES — counters built
    from two disjoint halves of the corpus sum to the whole-corpus
    sketch (the property that makes it compose across partitions,
    days, and streams)."""
    from pyspark.sql import functions as F

    from cassandra_log_analyzer_mcp_spark.operators.textops import (
        CMS_D,
        CMS_W,
        _cms_cell,
        token_counts_cms,
    )
    from cassandra_log_analyzer_mcp_spark.functions.texts import tokens_col
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    out = token_counts_cms(spark, sf_dir).collect()
    assert out and all(r.n_est >= r.n_true for r in out)
    assert any(r.inflation > 0 for r in out)  # W=16 must collide

    def sketch(df):
        tok = df.select(F.explode(tokens_col()).alias("token"))
        cells = tok.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _cms_cell(F.col("token"), r).alias("cell"),
                        )
                        for r in range(CMS_D)
                    ]
                )
            ).alias("rc")
        ).select("rc.r", "rc.cell")
        return {
            (r.r, r.cell): r.c
            for r in cells.groupBy("r", "cell").agg(
                F.count("*").alias("c")
            ).collect()
        }

    docs = documents(spark, sf_dir).select("doc_id", "text")
    whole = sketch(docs)
    lo = sketch(docs.filter("doc_id % 2 = 0"))
    hi = sketch(docs.filter("doc_id % 2 = 1"))
    merged = dict(lo)
    for k, v in hi.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == whole
    assert len(whole) <= CMS_D * CMS_W


def test_mmr_greedy_invariants(spark, sf_dir):
    """Greedy-MMR structural invariants: selections are distinct, the
    first pick carries zero diversity penalty, marginal scores are
    non-increasing round over round (shrinking pool + growing
    penalties), and at least one later pick pays a real penalty —
    diversification actually engaged, not vacuous."""
    from cassandra_log_analyzer_mcp_spark.operators.similarity import (
        mmr_diversified_search,
    )

    rows = sorted(
        mmr_diversified_search(spark, sf_dir).collect(),
        key=lambda r: r.rk,
    )
    assert [r.rk for r in rows] == [1, 2, 3, 4]
    assert len({r.vec_id for r in rows}) == 4
    assert rows[0].penalty == 0
    assert all(r.mmr == r.rel - r.penalty for r in rows)
    assert all(a.mmr >= b.mmr for a, b in zip(rows, rows[1:]))
    assert any(r.penalty > 0 for r in rows[1:])


def test_hamming_sign_knn_structure_and_recall(spark, sf_dir):
    """1-bit sign codes: 10 rows per query, distances inside [0, 64],
    and top-10 overlap with exact cosine far above the random
    baseline (10/2000 = 0.005; measured 0.32 on this data — 1-bit
    codes on weakly-clustered synthetic vectors lose a lot, which is
    why production binary search reranks; bound at 0.15)."""
    rows = similarity.knn_hamming_sign(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, set()).add(r.vec_id)
        assert 0 <= r.hamming <= 64
        assert 1 <= r.rn <= similarity.KNN_TOP_K
    assert all(len(v) == similarity.KNN_TOP_K for v in per_q.values())
    assert len(per_q) == similarity.KNN_N_QUERIES
    brute = {}
    for r in similarity.knn_cosine_brute(spark, sf_dir).collect():
        brute.setdefault(r.q_id, set()).add(r.vec_id)
    hits = sum(len(brute[q] & per_q[q]) for q in brute)
    total = sum(len(v) for v in brute.values())
    assert hits / total >= 0.15


def test_ngram_novelty_decays_over_ingest_order(spark, sf_dir):
    """Later ingest batches re-see earlier grams: the novelty rate of
    the first batch bounds every later batch from above (measured
    1000 -> 920 permille at sf0.01), counts are consistent, and every
    batch holds NOVELTY_BUCKET_DOCS docs on this contiguous-id data."""
    rows = textops.ngram_novelty_decay(spark, sf_dir).orderBy("batch").collect()
    assert len(rows) >= 2
    for r in rows:
        assert 0 < r.n_novel <= r.n_grams
        assert r.n_docs <= textops.NOVELTY_BUCKET_DOCS
        assert 0 < r.novel_permille <= 1000
    assert rows[-1].novel_permille < rows[0].novel_permille
    # exact invariant: every distinct gram is novel exactly once (at
    # its first doc), so the novel counts sum to the corpus gram
    # vocabulary size
    n_vocab = (
        textops._pos_grams(spark, sf_dir).select("gram").distinct().count()
    )
    assert sum(r.n_novel for r in rows) == n_vocab


def test_mixture_budget_fill_or_exhaust(spark, sf_dir):
    """Every source either FILLS its token budget (tokens_sel crosses
    it, overshoot bounded by one document) or is EXHAUSTED (all its
    tokens selected, fill short of budget) — the greedy-fill
    dichotomy; budgets are the same global value on every row."""
    from cassandra_log_analyzer_mcp_spark.functions.texts import tokens_col
    from cassandra_log_analyzer_mcp_spark.operators import curation
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    totals = {
        r.source: r.tot
        for r in documents(spark, sf_dir)
        .select("source", F.size(tokens_col()).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("tot"))
        .collect()
    }
    rows = curation.mixture_token_budget(spark, sf_dir).collect()
    assert len({r.budget_tokens for r in rows}) == 1
    filled = exhausted = 0
    for r in rows:
        if r.tokens_sel >= r.budget_tokens:
            filled += 1
        else:
            assert r.tokens_sel == totals[r.source]
            exhausted += 1
    assert filled > 0


def test_priority_sample_weight_bias_and_shape(spark, sf_dir):
    """Weighted bottom-K: K rows, ranks contiguous, and the sample's
    mean token weight exceeds the corpus mean (heavier docs win more
    often — the inclusion-probability property the sampler exists
    for)."""
    from cassandra_log_analyzer_mcp_spark.operators.curation import (
        PRIORITY_SAMPLE_K,
        priority_sample,
    )
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    rows = sorted(priority_sample(spark, sf_dir).collect(),
                  key=lambda r: r.rn)
    assert len(rows) == PRIORITY_SAMPLE_K
    assert [r.rn for r in rows] == list(range(1, PRIORITY_SAMPLE_K + 1))
    pris = [r.priority for r in rows]
    assert pris == sorted(pris)
    corpus_mean = (
        documents(spark, sf_dir)
        .select(F.size(tokens_col()).alias("n"))
        .agg(F.avg("n"))
        .collect()[0][0]
    )
    sample_mean = sum(r.n_tokens for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_cluster_purity_eval_matches_python_recount(spark, sf_dir):
    """Purity and Rand index re-derived in plain Python from the
    contingency table — the inclusion-exclusion pair arithmetic must
    agree exactly."""
    from collections import Counter

    asg = {
        r.vec_id: r.cluster
        for r in similarity.kmeans_assignments(spark, sf_dir).collect()
    }
    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    ct = Counter((asg[v], labels[v]) for v in asg)
    n = sum(ct.values())
    rows = Counter()
    cols = Counter()
    maxes = {}
    for (cl, lb), c in ct.items():
        rows[cl] += c
        cols[lb] += c
        maxes[cl] = max(maxes.get(cl, 0), c)
    pair = lambda x: x * (x - 1) // 2  # noqa: E731
    tp = sum(pair(c) for c in ct.values())
    agree = pair(n) + 2 * tp - sum(pair(c) for c in rows.values()) - sum(
        pair(c) for c in cols.values()
    )
    got = similarity.cluster_purity_eval(spark, sf_dir).collect()[0]
    assert got.n == n
    assert got.k_clusters == len(rows)
    assert got.n_labels == len(cols)
    assert got.purity_permille == 1000 * sum(maxes.values()) // n
    assert got.rand_permille == 1000 * agree // pair(n)


def test_release_manifest_is_a_funnel(spark, sf_dir):
    """Stages only shrink (each adds a filter), stage 0 equals the
    raw corpus census, and every count/token pair stays consistent
    (0 docs => 0 tokens)."""
    from cassandra_log_analyzer_mcp_spark.operators.curation import (
        corpus_release_manifest,
    )
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    rows = sorted(
        corpus_release_manifest(spark, sf_dir).collect(),
        key=lambda r: r.stage,
    )
    assert [r.stage for r in rows] == [
        "0_raw", "1_gated", "2_deduped", "3_decontaminated", "4_sampled",
    ]
    n_raw = documents(spark, sf_dir).count()
    assert rows[0].n_docs == n_raw
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs <= a.n_docs
        assert b.n_tokens <= a.n_tokens
    for r in rows:
        assert (r.n_docs == 0) == (r.n_tokens == 0)


def test_minhash_pr_eval_containment_invariant(spark, sf_dir):
    """Band candidates verify with the same exact Jaccard as the
    exhaustive truth, so predictions are CONTAINED in the truth:
    tp == n_pred, precision pinned at 1000, recall in (0, 1000].
    The truth frame is the salted-hash doc sample (the executable
    100 TB contract): its size is a graded output column, a real
    sample (0 < n < corpus), and exactly reproducible row-side."""
    r = dedup.minhash_dedup_pr_eval(spark, sf_dir).collect()[0]
    assert r.tp == r.n_pred
    assert r.n_pred <= r.n_truth
    if r.n_pred:
        assert r.precision_permille == 1000
    assert 0 < r.recall_permille <= 1000
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    assert 0 < r.n_sample_docs < n_docs
    # membership is the documented salted-md5-prefix predicate
    import hashlib

    n_expected = sum(
        1
        for (doc_id,) in docs.select("doc_id").collect()
        if hashlib.md5(
            f"{dedup.PR_EVAL_SAMPLE_SALT}{doc_id}".encode()
        ).hexdigest()[:4] < dedup.PR_EVAL_SAMPLE_MAX4
    )
    assert r.n_sample_docs == n_expected


def test_truncated_dims_eval_shape(spark, sf_dir):
    """One row per query; hits bounded by k; truncated retrieval on
    these non-head-packed synthetic vectors lands strictly between
    random (~0) and perfect (the honest baseline the harness
    reports)."""
    rows = similarity.knn_truncated_dims_eval(spark, sf_dir).collect()
    assert len(rows) == similarity.KNN_N_QUERIES
    assert all(0 <= r.n_hits <= r.k == similarity.KNN_TOP_K for r in rows)
    assert 0 < sum(r.n_hits for r in rows) < sum(r.k for r in rows)


def test_dedup_chunks_rewrite_keep_first(spark, sf_dir, monkeypatch):
    import cassandra_log_analyzer_mcp_spark.operators.textops as t

    monkeypatch.setattr(t, "CHUNK_TOKENS", 2)
    monkeypatch.setattr(t, "documents", lambda s, d: s.createDataFrame(
        [
            # chunks [a b][c d][a b]: idx2 repeats idx0 -> dropped
            Row(doc_id=0, text="a b c d a b"),
            # [c d] repeats doc0 idx1 -> dropped; partial tail [x] kept
            Row(doc_id=1, text="c d x"),
            # fully duplicate doc rewrites to empty text
            Row(doc_id=2, text="a b c d"),
            Row(doc_id=3, text=""),
        ]
    ))
    rows = {
        r.doc_id: r for r in t.dedup_chunks_rewrite(spark, sf_dir).collect()
    }
    assert rows[0].clean_text == "a b c d" and rows[0].n_kept == 2
    assert rows[0].n_chunks == 3
    assert rows[1].clean_text == "x" and rows[1].n_kept == 1
    assert rows[2].clean_text == "" and rows[2].n_kept == 0
    assert rows[3].n_chunks == 0 and rows[3].clean_text == ""


def test_ams_sketch_accuracy_and_linearity(spark, sf_dir, monkeypatch):
    import cassandra_log_analyzer_mcp_spark.operators.textops as t

    rows = t.token_f2_ams(spark, sf_dir).collect()
    assert len(rows) == t.AMS_R
    f2 = rows[0].f2_exact
    mean_est = sum(r.est_r for r in rows) / len(rows)
    # E[S_r^2] = F2, Var <= 2*F2^2/R: the deterministic md5 signs land
    # the mean comfortably inside a factor-3 band
    assert 0.3 * f2 <= mean_est <= 3.0 * f2

    # linearity: the sketch of a union is the SUM of the sketches —
    # the property that makes per-partition / per-batch merging exact
    full = [
        Row(doc_id=0, text="a b c a"),
        Row(doc_id=1, text="b b d"),
        Row(doc_id=2, text="c a e e e"),
    ]
    def s_of(docs):
        monkeypatch.setattr(t, "documents", lambda s, d: s.createDataFrame(docs))
        return {r.r: r.s_r for r in t.token_f2_ams(spark, sf_dir).collect()}

    s_full, s_a, s_b = s_of(full), s_of(full[:1]), s_of(full[1:])
    assert all(s_full[r] == s_a[r] + s_b[r] for r in s_full)


def test_hrw_rebalance_beats_mod(spark, sf_dir):
    """HRW moves ~1/(N+1) of docs on a shard add; mod moves ~8/9.
    Moved docs under HRW all moved TO the new shard (the rendezvous
    invariant: an argmax can only change when the new shard wins)."""
    from cassandra_log_analyzer_mcp_spark.operators.curation import (
        REBAL_N,
        shard_rebalance_eval,
    )

    rows = {r.scheme: r for r in shard_rebalance_eval(spark, sf_dir).collect()}
    hrw, mod = rows["hrw"], rows["mod"]
    assert hrw.n_docs == mod.n_docs > 0
    # expectations: hrw 1/9 ≈ 111‰, mod 8/9 ≈ 889‰ (wide bands)
    assert 40 <= hrw.moved_permille <= 250
    assert mod.moved_permille >= 700
    assert hrw.n_moved < mod.n_moved


def test_dl_distance_matches_duckdb_incl_osa_distinguisher():
    """The Lowrance–Wagner kernel is the UNRESTRICTED DL (edits may
    pass through a transposition): randomized agreement with DuckDB's
    damerau_levenshtein plus the canonical OSA/DL distinguisher."""
    import random

    import duckdb

    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        _dl_distance,
    )

    assert _dl_distance("CA", "ABC") == 2  # OSA would say 3
    assert _dl_distance("ab", "ba") == 1
    assert _dl_distance("", "abc") == 3 and _dl_distance("abc", "") == 3
    con = duckdb.connect()
    rng = random.Random(11)
    for _ in range(300):
        a = "".join(rng.choices("abcd ", k=rng.randint(0, 14)))
        b = "".join(rng.choices("abcd ", k=rng.randint(0, 14)))
        want = con.execute(
            "select damerau_levenshtein(?, ?)", [a, b]
        ).fetchone()[0]
        assert _dl_distance(a, b) == want, (a, b)


def test_filtered_knn_prefilter_fills_k_postfilter_does_not(spark, sf_dir):
    """Pre-filtering returns a full top-k from allowed sources; the
    n_postfilter census shows the unfiltered top-k would UNDER-fill k
    for at least one query (the reason filtered search exists)."""
    from cassandra_log_analyzer_mcp_spark.operators.similarity import (
        KNN_FILTER_SOURCES,
        KNN_TOP_K,
        knn_filtered_int8,
    )

    rows = knn_filtered_int8(spark, sf_dir).collect()
    srcs = {
        r.doc_id: r.source
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
        assert srcs[r.vec_id] in KNN_FILTER_SOURCES  # predicate honored
        assert 0 <= r.n_postfilter <= KNN_TOP_K
    for q, hits in by_q.items():
        assert len(hits) == KNN_TOP_K  # pre-filter fills k
        assert len({h.vec_id for h in hits}) == KNN_TOP_K
    assert any(h.n_postfilter < KNN_TOP_K for h in rows)


def test_modality_agreement_census_consistency(spark, sf_dir):
    """Census totals reconcile with the modality pair sets: per-
    modality sums match, no (0,0,0) cell exists, and the union size
    equals the sum of cells."""
    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        dedup_editdist,
        dedup_minhash_lsh,
        dedup_modality_agreement,
        dedup_simhash,
    )

    cells = dedup_modality_agreement(spark, sf_dir).collect()
    assert all(
        (c.in_minhash, c.in_simhash, c.in_editdist) != (0, 0, 0)
        for c in cells
    )
    mm = {(r.da, r.db) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    sh = {(r.da, r.db) for r in dedup_simhash(spark, sf_dir).collect()}
    ed = {(r.da, r.db) for r in dedup_editdist(spark, sf_dir).collect()}
    assert sum(c.n_pairs for c in cells) == len(mm | sh | ed)
    assert sum(c.n_pairs for c in cells if c.in_minhash) == len(mm)
    assert sum(c.n_pairs for c in cells if c.in_simhash) == len(sh)
    assert sum(c.n_pairs for c in cells if c.in_editdist) == len(ed)


def test_soft_weights_reconcile_with_clusters(spark, sf_dir):
    """Every doc appears once; clustered docs carry 1000//size,
    singletons 1000; the effective corpus mass equals
    n_singletons*1000 + sum over clusters of size*(1000//size)."""
    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        dedup_clusters,
        dedup_soft_weights,
    )

    w = dedup_soft_weights(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(w) == n_docs
    cc = {r.doc_id: r.cluster_size for r in dedup_clusters(spark, sf_dir).collect()}
    for r in w:
        size = cc.get(r.doc_id, 1)
        assert r.cluster_size == size
        assert r.weight_permille == max(1, 1000 // size)
    assert any(r.cluster_size > 1 for r in w)  # clusters exist
    assert any(r.cluster_size == 1 for r in w)  # singletons exist


def test_soft_weights_floor_at_mega_cluster(spark):
    """The weight expression floors at 1 permille: a cluster larger
    than 1000 docs must still contribute, never zero out (the
    boilerplate-mega-cluster case the corpus fixture can't reach)."""
    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        SOFT_WEIGHT_EXPR,
    )

    rows = spark.createDataFrame(
        [(1,), (3,), (999,), (1000,), (1001,), (2_500_000,), (None,)],
        "cluster_size long",
    ).selectExpr("cluster_size", f"{SOFT_WEIGHT_EXPR} AS weight_permille")
    got = {r.cluster_size: r.weight_permille for r in rows.collect()}
    assert got == {
        1: 1000, 3: 333, 999: 1, 1000: 1, 1001: 1, 2_500_000: 1,
        None: 1000,
    }


def test_minhash_bbit_dominance_and_inflation(spark, sf_dir):
    """Full-component equality implies low-bits equality, so
    n_match_b4 >= n_match on every pair; and the 4-bit channel must
    show SOME accidental collisions corpus-wide (the inflation the
    b-bit estimator corrects — if it never fires, the eval is
    vacuous)."""
    rows = dedup.minhash_bbit_eval(spark, sf_dir).collect()
    assert rows
    assert all(r.n_match_b4 >= r.n_match for r in rows)
    assert all(0 <= r.n_match <= 8 and r.n_match_b4 <= 8 for r in rows)
    assert any(r.n_match_b4 > r.n_match for r in rows)


def test_dl_batch_kernel_matches_scalar_dp():
    """The numpy-batched banded DL sweep returns bit-identical values
    to the scalar reference DP across mixed lengths/caps/edit mixes —
    including empty strings, transposition-heavy pairs, and the
    finite-maxd early-exit quirk (pairs with la+lb ≤ cap must never
    early-exit)."""
    import random

    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        _dl_distance,
        _dl_distance_batch,
    )

    rng = random.Random(41)
    tas, tbs, caps = [], [], []
    for _ in range(500):
        n = rng.randint(0, 120)
        a = "".join(rng.choices("abcdef", k=n))
        b = list(a)
        for _ in range(rng.randint(0, 15)):
            op = rng.choice("sdit")
            if not b:
                break
            p = rng.randrange(len(b))
            if op == "s":
                b[p] = rng.choice("abcdef")
            elif op == "d":
                del b[p]
            elif op == "i":
                b.insert(p, rng.choice("abcdef"))
            elif op == "t" and p + 1 < len(b):
                b[p], b[p + 1] = b[p + 1], b[p]
        tas.append(a)
        tbs.append("".join(b))
        caps.append(rng.choice([0, 1, 3, 8, 24, 60]))
    got = _dl_distance_batch(tas, tbs, caps)
    for i, (a, b, c) in enumerate(zip(tas, tbs, caps)):
        assert got[i] == _dl_distance(a, b, cap=c), (i, a, b, c)


def test_dl_banded_cap_exact_below_sentinel_above():
    """Capped DL equals the exact distance whenever exact <= cap and
    returns cap+1 otherwise — randomized against the uncapped DP."""
    import random

    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        _dl_distance,
    )

    rng = random.Random(23)
    for _ in range(300):
        a = "".join(rng.choices("abc", k=rng.randint(0, 16)))
        b = "".join(rng.choices("abc", k=rng.randint(0, 16)))
        exact = _dl_distance(a, b)
        for cap in (0, 1, 2, 4, 8, 32):
            got = _dl_distance(a, b, cap=cap)
            if exact <= cap:
                assert got == exact, (a, b, cap)
            else:
                assert got == cap + 1, (a, b, cap)


def test_doc_zipf_fit_tiers_and_slope_sign(spark, sf_dir):
    """One row per ground-truth language plus the *ALL* corpus tier;
    every tier's fitted log-log slope is negative (counts decrease
    with rank by construction) and the exact integer num/den pair
    reproduces the rounded slope."""
    from cassandra_log_analyzer_mcp_spark.operators import textops

    rows = {r.lang: r for r in textops.doc_zipf_fit(
        spark, sf_dir).collect()}
    assert "*ALL*" in rows and len(rows) >= 3
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert set(rows) - {"*ALL*"} == {
        r.lang for r in docs.select("lang").distinct().collect()
    }
    for lang, r in rows.items():
        assert 0 < r.n_points <= textops.ZIPF_TOP_K
        assert r.slope_den > 0
        assert r.slope_num < 0  # head counts strictly decrease in rank
        assert r.zipf_slope == round(r.slope_num / r.slope_den, 4)


def test_ivf_probe_sweep_monotone(spark, sf_dir):
    """Widening the probe list can only add candidates: n_candidates
    is nondecreasing in nprobe (a set-containment guarantee). n_hits
    is NOT guaranteed monotone in general — a widened candidate set
    can displace a true hit from the re-ranked top-k when rounded
    sims tie — so hits get a small one-step tolerance instead of a
    strict assert (ADVICE r5: the strict form was fixture-dependent).
    The widest sweep point matches the standalone IVF leg's hit count
    (same index, same ranking)."""
    from cassandra_log_analyzer_mcp_spark.operators import similarity

    rows = sorted(
        similarity.ann_ivf_probe_sweep(spark, sf_dir).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == similarity.IVF_SWEEP_PROBES
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates >= a.n_candidates  # guaranteed superset
        assert b.n_hits >= a.n_hits - 2  # re-rank displacement slack
        assert a.n_truth == b.n_truth > 0
    # end-to-end the sweep must still climb: widest ≥ narrowest
    assert rows[-1].n_hits >= rows[0].n_hits
    assert 0 < rows[-1].recall_permille <= 1000
    # cross-check vs ann_recall_eval's IVF leg at the production
    # nprobe (a sweep point by construction)
    from pyspark.sql import functions as F

    ivf_hits = (
        similarity.ann_recall_eval(spark, sf_dir)
        .filter(F.col("method") == "ivf")
        .agg(F.sum("n_hits")).collect()[0][0]
    )
    at_prod = {r.nprobe: r.n_hits for r in rows}[similarity.IVF_NPROBE]
    assert at_prod == ivf_hits


def test_band_tuning_nested_configs_monotone(spark, sf_dir):
    """With the nested factorizations of K=8, each config's candidate
    set CONTAINS the next-stricter one, so candidates / predictions /
    recall are all nondecreasing in the band count; the production
    (4,2) point must agree exactly with minhash_dedup_pr_eval's
    prediction count (same banding, same sample, same verify)."""
    rows = sorted(
        dedup.minhash_band_tuning_eval(spark, sf_dir).collect(),
        key=lambda r: r.n_bands,
    )
    assert [(r.n_bands, r.rows_per_band) for r in rows] == sorted(
        dedup.MINHASH_BAND_CONFIGS
    )
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates >= a.n_candidates
        assert b.n_pred >= a.n_pred
        assert b.recall_permille >= a.recall_permille
        assert a.n_truth == b.n_truth > 0
    pr = dedup.minhash_dedup_pr_eval(spark, sf_dir).collect()[0]
    at_prod = {r.n_bands: r for r in rows}[dedup.MINHASH_BANDS]
    assert at_prod.n_pred == pr.n_pred
    assert at_prod.n_truth == pr.n_truth


def test_packing_efficiency_bounds(spark, sf_dir):
    """Per block: the pack count is at least the ceil(used/CTX)
    floor, utilization is in (0, 1000], and overhead reconstructs
    from (n_packs, lb_packs) exactly."""
    from cassandra_log_analyzer_mcp_spark.operators import curation

    rows = curation.sequence_packing_efficiency(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_packs >= r.lb_packs >= 1
        assert 0 < r.utilization_permille <= 1000
        assert r.overhead_permille == (
            1000 * (r.n_packs - r.lb_packs) // r.lb_packs
        )
        assert r.used_tokens <= r.n_packs * curation.PACK_CTX_TOKENS


def test_cluster_quality_reconciles_with_clusters(spark, sf_dir):
    """Tier doc counts reconcile exactly with the cluster rollup +
    singleton fill; means reconstruct from the graded integer sums."""
    rows = {r.dup_tier: r for r in dedup.dedup_cluster_quality(
        spark, sf_dir).collect()}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows.values()) == n_docs
    assert "singleton" in rows
    cc = dedup.dedup_clusters(spark, sf_dir).collect()
    clustered = len(cc)
    assert rows["singleton"].n_docs == n_docs - clustered
    for r in rows.values():
        assert r.mean_q_permille == r.sum_q_permille // r.n_docs
        assert 0 < r.mean_q_permille <= 1000


def test_multik_spans_reconcile_with_k8_merged(spark, sf_dir):
    """The round-6 reconciliation contract: every duplicated 2K-gram's
    K-token sub-grams are duplicated in the same doc pair, so the
    wider widths add CERTIFICATION, never coverage — multik span
    boundaries must equal repeated_spans_merged's at K=8, with
    n_grams_k8 matching merged's n_grams, and certified widths only
    appear inside spans long enough to hold them."""
    from cassandra_log_analyzer_mcp_spark.operators import textops

    merged = {
        (r.doc_id, r.span_start): r
        for r in textops.repeated_spans_merged(spark, sf_dir).collect()
    }
    multik = {
        (r.doc_id, r.span_start): r
        for r in textops.repeated_spans_multik(spark, sf_dir).collect()
    }
    assert set(merged) == set(multik) and len(multik) > 0
    saw_wider = False
    for key, m in multik.items():
        b = merged[key]
        assert m.span_end_excl == b.span_end_excl
        assert m.span_tokens == b.span_tokens
        assert m.n_grams_k8 == b.n_grams
        assert m.max_k_certified >= textops.REPEAT_K
        assert m.max_k_certified in textops.MULTIK_WIDTHS
        # a width-k certificate needs at least k tokens of span
        assert m.span_tokens >= m.max_k_certified
        if m.max_k_certified > textops.REPEAT_K:
            saw_wider = True
        # per-width counts decrease with width (containment)
        assert m.n_grams_k8 >= m.n_grams_k16 >= m.n_grams_k32 >= 0
    # the fixture corpus contains at least one wide-certified repeat,
    # otherwise the operator degenerates to the K=8 view
    assert saw_wider


def test_scaled_probe_sweep_recall_floors_sf01():
    """VERDICT r5 ask #5: the IVF tuning table read off a regime where
    cell sizes matter — 2000 vectors / 32 cells / 100 queries at
    sf0.1. Floors are set from the audited curve (390→656 permille,
    candidates 3%→25% of brute) with slack for testdata drops."""
    import os

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.1 testdata absent")
    from cassandra_log_analyzer_mcp_spark.operators import similarity
    from cassandra_log_analyzer_mcp_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    rows = sorted(
        similarity.ann_ivf_probe_sweep_scaled(s, sf01).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == similarity.IVF_SWEEP_PROBES
    n_q = similarity.IVF_SCALED_QUERIES
    brute_pairs = n_q * (
        s.read.parquet(f"{sf01}/embeddings.parquet").count() - 1
    )
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates >= a.n_candidates
    # recall floors: the sweep must climb into a usable regime while
    # staying far cheaper than brute force
    assert rows[0].recall_permille >= 300
    assert rows[-1].recall_permille >= 550
    assert rows[-1].recall_permille >= rows[0].recall_permille + 100
    assert rows[-1].n_candidates < brute_pairs * 0.3
    assert rows[0].n_truth == n_q * similarity.IVF_SCALED_TOP_K


def test_spans_rewrite_drops_exactly_certified_tokens(spark, sf_dir):
    """dedup_spans_rewrite must drop exactly the token positions of
    certified (max_k >= SPAN_DROP_MIN_K) spans and nothing else:
    per-doc kept+dropped = total, untouched docs rebuild verbatim
    from their tokens, and dropped counts reconcile with the multik
    span table."""
    from cassandra_log_analyzer_mcp_spark.operators import textops

    spans = {}
    for r in textops.repeated_spans_multik(spark, sf_dir).collect():
        if r.max_k_certified >= textops.SPAN_DROP_MIN_K:
            spans.setdefault(r.doc_id, 0)
            spans[r.doc_id] += r.span_tokens
    rows = textops.dedup_spans_rewrite(spark, sf_dir).collect()
    assert len(rows) > 0
    touched = 0
    for r in rows:
        want = spans.get(r.doc_id, 0)
        assert r.n_dropped == want, r.doc_id
        kept_tokens = len(r.clean_text.split()) if r.clean_text else 0
        assert kept_tokens == r.n_tokens - r.n_dropped, r.doc_id
        if want:
            touched += 1
    # the policy must actually fire somewhere AND spare somewhere
    assert 0 < touched < len(rows)


def test_ivf_kmeans_structure_and_recall(spark, sf_dir):
    """IVF over trained centroids: per-query top-k is well-formed and
    the learned quantizer must not be useless — across queries the
    trained-cell index recovers a nonzero share of the brute-force
    neighbors (the full recall table lives in ann_recall_eval's
    family; this pins the floor)."""
    from cassandra_log_analyzer_mcp_spark.operators import similarity

    rows = similarity.ann_ivf_kmeans(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        assert 1 <= r.rn <= similarity.IVF_TOP_K
        assert -1.001 <= r.sim <= 1.001
        per_q.setdefault(r.q_id, set()).add(r.vec_id)
    assert len(per_q) > 0
    assert all(len(v) <= similarity.IVF_TOP_K for v in per_q.values())
    brute = {
        (r.q_id, r.vec_id)
        for r in similarity.knn_cosine_brute(spark, sf_dir).collect()
    }
    hits = sum(
        1 for q, vs in per_q.items() for v in vs if (q, v) in brute
    )
    assert hits > 0


def test_tokenizer_fertility_consistent_with_encode(spark, sf_dir):
    """Fertility rows must be the exact per-lang rollup of the graded
    encode output, and BPE can only MERGE (fertility <= 1000)."""
    from cassandra_log_analyzer_mcp_spark.operators import textops as T
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    fert = {r.lang: r for r in T.tokenizer_fertility_eval(spark, sf_dir).collect()}
    langs = {r.lang for r in documents(spark, sf_dir).select("lang").distinct().collect()}
    assert set(fert) == langs
    enc_tot = T.bpe_encode(spark, sf_dir).groupBy().sum(
        "n_raw_tokens", "n_bpe_symbols"
    ).collect()[0]
    assert sum(r.n_raw_tokens for r in fert.values()) == enc_tot[0]
    assert sum(r.n_bpe_symbols for r in fert.values()) == enc_tot[1]
    for r in fert.values():
        assert 0 < r.fertility_permille <= 1000
        assert 1000 * r.n_bpe_symbols // r.n_raw_tokens == r.fertility_permille


def test_multik_certification_proven_against_raw_text(spark, tmp_path):
    """Round-7 property (VERDICT r6 ask #6): on a crafted slice, the
    gram quantization at K ∈ {8,16,32} neither LOSES nor SPLITS any
    maximal cross-document verbatim repeat, certification widths
    match a brute-force substring census of the RAW TEXT, and the
    rewrite's '>= 16-token verbatim repeat is dropped' guarantee
    holds window-by-window against the original token streams —
    not just against the gram substrate."""
    import os

    from cassandra_log_analyzer_mcp_spark.operators.textops import (
        MULTIK_WIDTHS,
        SPAN_DROP_MIN_K,
        dedup_spans_rewrite,
        repeated_spans_multik,
    )

    # --- crafted corpus: planted repeats bracket every width edge
    def rep(tag, n):
        return [f"r{tag}n{j}" for j in range(n)]

    plants = {  # tag -> (length, expected max_k or None if below k8)
        "a7": 7, "b8": 8, "c15": 15, "d16": 16, "e31": 31,
        "f32": 32, "g33": 33, "h64": 64, "i100": 100,
    }
    docs = {}
    pos_of = {}  # (tag, doc) -> start position

    def build(doc_id, parts):
        toks, out = [], []
        for part in parts:
            if isinstance(part, str):  # planted repeat tag
                pos_of[(part, doc_id)] = len(toks)
                toks += rep(part, plants[part])
            else:  # unique filler of n tokens
                out_len = len(toks)
                toks += [f"d{doc_id}u{out_len + j}" for j in range(part)]
        docs[doc_id] = toks

    # doc 0/1 share every plant at different offsets; two plants in
    # doc 0 are separated by a SINGLE unique token (must stay two
    # spans); one plant sits at position 0 and one at the very end
    build(0, ["d16", 1, "f32", 5, "a7", 4, "c15", 3, "h64", 2, "b8"])
    build(1, [6, "f32", 2, "d16", 9, "c15", 1, "h64", 3, "b8", 5, "a7"])
    build(2, [4, "e31", 3, "g33", 2, "i100"])
    build(3, ["i100", 5, "e31", 7, "g33"])
    # three-way share: i100 also in doc 4
    build(4, [3, "i100", 4])
    # within-one-doc-only repeat: must generate NO spans in doc 5
    same = [f"samedoc{j}" for j in range(20)]
    docs[5] = same + ["d5gap0"] + same

    rows = [
        (i, " ".join(t), "en", "crafted", len(" ".join(t)))
        for i, t in docs.items()
    ]
    sf_like = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(
        os.path.join(sf_like, "documents.parquet")
    )

    # --- brute-force census straight off the raw token streams
    def windows(toks, k):
        return [
            (" ".join(toks[p : p + k]), p)
            for p in range(len(toks) - k + 1)
        ]

    dup_cover = {d: set() for d in docs}  # positions under any dup gram
    dup_k = {d: {} for d in docs}         # pos -> widths hitting there
    for k in MULTIK_WIDTHS:
        where = {}
        for d, toks in docs.items():
            for g, p in windows(toks, k):
                where.setdefault(g, set()).add(d)
        for d, toks in docs.items():
            for g, p in windows(toks, k):
                if len(where[g]) > 1:
                    for i in range(p, p + k):
                        dup_cover[d].add(i)
                    dup_k[d].setdefault(p, set()).add(k)

    def brute_spans(d):
        cov = sorted(dup_cover[d])
        spans, start, prev = [], None, None
        for i in cov:
            if start is None:
                start, prev = i, i
            elif i == prev + 1:
                prev = i
            else:
                spans.append((start, prev + 1))
                start, prev = i, i
        if start is not None:
            spans.append((start, prev + 1))
        return spans

    got = repeated_spans_multik(spark, sf_like).collect()
    got_spans = {
        (r.doc_id, r.span_start, r.span_end_excl): r for r in got
    }
    # (1) span boundaries == brute maximal islands, per doc, exactly
    expect = {
        (d, s, e) for d in docs for (s, e) in brute_spans(d)
    }
    assert set(got_spans) == expect
    # (2) certification == the max gram width starting inside the span
    for (d, s, e), r in got_spans.items():
        widths = {
            k
            for p, ks in dup_k[d].items()
            if s <= p < e
            for k in ks
        }
        assert r.max_k_certified == max(widths)
    # (3) every planted repeat of length >= 8 lives in ONE span, whole
    for tag, length in plants.items():
        if length < 8:
            continue
        want_k = max(k for k in MULTIK_WIDTHS if k <= length)
        for (t, d), s in pos_of.items():
            if t != tag:
                continue
            hit = [
                r
                for (dd, ss, ee), r in got_spans.items()
                if dd == d and ss <= s and ee >= s + length
            ]
            assert len(hit) == 1, (tag, d)
            assert hit[0].max_k_certified >= want_k, (tag, d)
    # (4) sub-k8 and same-doc-only repeats generate nothing
    assert not [r for r in got if r.doc_id == 5]
    # (5) the RAW-TEXT drop guarantee: every cross-doc duplicated
    # 16-token window of the ORIGINAL text falls inside a dropped
    # interval, and clean_text is exactly the kept positions
    dropped = {
        d: [
            (r.span_start, r.span_end_excl)
            for r in got
            if r.doc_id == d and r.max_k_certified >= SPAN_DROP_MIN_K
        ]
        for d in docs
    }
    clean = {
        r.doc_id: r for r in dedup_spans_rewrite(spark, sf_like).collect()
    }
    for d, toks in docs.items():
        for p, ks in dup_k[d].items():
            if SPAN_DROP_MIN_K in ks or (2 * SPAN_DROP_MIN_K) in ks:
                assert any(
                    s <= p and p + SPAN_DROP_MIN_K <= e
                    for (s, e) in dropped[d]
                ), (d, p)
        keep = [
            t
            for i, t in enumerate(toks)
            if not any(s <= i < e for (s, e) in dropped[d])
        ]
        assert clean[d].clean_text == " ".join(keep)
        assert clean[d].n_dropped == len(toks) - len(keep)


def test_span_corruption_reconstructs_original(spark, sf_dir):
    """Splicing each target span back over its sentinel must rebuild
    the original token stream exactly — the invariant that makes the
    (corrupted, targets) pair a valid denoising training example."""
    import re

    from cassandra_log_analyzer_mcp_spark.operators import textops as T
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    rows = {
        r.doc_id: r
        for r in T.augment_span_corruption(spark, sf_dir).collect()
    }
    orig = {
        r.doc_id: r.text.split()
        for r in documents(spark, sf_dir).select("doc_id", "text").collect()
        if r.text.split()
    }
    assert set(rows) == set(orig)
    masked_total = 0
    for d, r in rows.items():
        assert r.n_groups == -(-r.n_tokens // T.SPANC_GROUP)
        masked_total += r.n_masked_groups
        # parse targets into sentinel -> token list
        tgt = {}
        for m in re.finditer(
            r"<extra_id_(\d+)>((?: (?!<extra_id_)\S+)*)", r.targets_text
        ):
            tgt[int(m.group(1))] = m.group(2).split()
        assert len(tgt) == r.n_masked_groups
        rebuilt = []
        for piece in r.corrupted_text.split():
            m = re.fullmatch(r"<extra_id_(\d+)>", piece)
            rebuilt += tgt[int(m.group(1))] if m else [piece]
        assert rebuilt == orig[d], d
    # the gate actually fires corpus-wide, but never everywhere
    n_groups_total = sum(r.n_groups for r in rows.values())
    assert 0 < masked_total < n_groups_total


def test_vocab_coverage_curve_monotone(spark, sf_dir):
    from cassandra_log_analyzer_mcp_spark.operators import textops as T

    rows = {r.vocab_size: r for r in T.vocab_coverage_curve(spark, sf_dir).collect()}
    assert sorted(rows) == T.VOCAB_COVERAGE_SIZES
    prev = 0
    for n in T.VOCAB_COVERAGE_SIZES:
        r = rows[n]
        assert prev <= r.covered_tokens <= r.total_tokens
        assert r.coverage_permille == 1000 * r.covered_tokens // r.total_tokens
        prev = r.covered_tokens
    # a budget >= the full vocab covers everything
    if T.VOCAB_COVERAGE_SIZES[-1] >= rows[100].vocab_size_full:
        assert rows[T.VOCAB_COVERAGE_SIZES[-1]].coverage_permille == 1000


def test_mixture_temperature_flattens_the_mix(spark, sf_dir):
    """tau=0.5 must up-weight tails and down-weight the head: the
    temperature share sits between the raw share and uniform, so the
    largest language's boost is negative and the smallest's is
    positive (strictly, unless already uniform)."""
    import math

    from cassandra_log_analyzer_mcp_spark.operators.curation import (
        mixture_temperature_weights,
    )

    rows = mixture_temperature_weights(spark, sf_dir).collect()
    assert len(rows) >= 2
    tot_docs = sum(r.n_docs for r in rows)
    tot_w = sum(math.isqrt(r.n_docs) for r in rows)
    for r in rows:
        assert r.share_permille == 1000 * r.n_docs // tot_docs
        assert (
            r.temp_share_permille
            == 1000 * math.isqrt(r.n_docs) // tot_w
        )
        assert r.boost_permille == r.temp_share_permille - r.share_permille
    head = max(rows, key=lambda r: r.n_docs)
    tail = min(rows, key=lambda r: r.n_docs)
    assert head.boost_permille < 0 < tail.boost_permille


def test_gopher_quality_flags_rules(spark, monkeypatch):
    """Each rule trips on its crafted violator and the clean doc
    passes the whole battery."""
    import cassandra_log_analyzer_mcp_spark.operators.textops as t

    good = ("the good doc be to of and that have with " +
            "word " * 45).strip()          # 54 tokens, stopwords ok
    short = "the be to of tiny"             # < 50 tokens
    # mean word length (3+2+34)/3 = 13 > 10
    longwords = (
        "the be supercalifragilisticexpialidocious " * 30
    ).strip()
    nostops = ("alpha beta gamma delta " * 15).strip()         # 0 stopwords
    symbols = ("the be to of # # # # " * 10).strip()           # #-ratio > 0.1
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=good),
            Row(doc_id=2, text=short),
            Row(doc_id=3, text=longwords),
            Row(doc_id=4, text=nostops),
            Row(doc_id=5, text=symbols),
        ]
    )
    monkeypatch.setattr(
        "cassandra_log_analyzer_mcp_spark.operators.textops.documents",
        lambda spark, sf_dir: docs,
    )
    got = {r.doc_id: r for r in t.gopher_quality_flags(spark, "x").collect()}
    assert got[1].kept
    assert not got[2].ok_tokens and not got[2].kept
    assert not got[3].ok_word_len and not got[3].kept
    assert not got[4].ok_stopwords and not got[4].kept
    assert not got[5].ok_symbols and not got[5].kept
    # alpha gate: symbol tokens drag the alphabetic ratio down too
    assert got[5].alpha_ratio < 1.0


def test_decontaminate_semantic_flags_planted_neighbor(spark, monkeypatch):
    """A training vector colinear with an eval vector is flagged with
    best_sim 1.0 against that eval id; an orthogonal one is not."""
    import cassandra_log_analyzer_mcp_spark.operators.similarity as s

    dims = 4
    def vec(*xs):
        return [float(x) for x in xs] + [0.0] * (dims - len(xs))

    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=vec(1, 0), label=0),   # eval (0 % 11)
            Row(vec_id=1, embedding=vec(2, 0), label=0),   # colinear train
            Row(vec_id=2, embedding=vec(0, 3), label=0),   # orthogonal train
        ]
    )
    monkeypatch.setattr(
        "cassandra_log_analyzer_mcp_spark.operators.similarity.table",
        lambda spark, sf_dir, name: emb,
    )
    got = {r.vec_id: r for r in
           s.decontaminate_semantic(spark, "x").collect()}
    assert list(got) == [1]
    assert got[1].best_sim == 1.0 and got[1].best_eval_id == 0
    assert got[1].n_eval_near == 1


def test_embedding_multiprobe_is_strict_candidate_superset(spark, sf_dir):
    """dedup_embedding_multiprobe (round 9) must return every pair
    dedup_embedding_cosine returns — the exact-bucket probe is in the
    probe set — plus only pairs whose buckets differ in exactly one
    plane sign; identical sims on the shared pairs (same verify)."""
    single = {
        (r.va, r.vb): r.sim
        for r in similarity.dedup_embedding_cosine(spark, sf_dir).collect()
    }
    multi = {
        (r.va, r.vb): r.sim
        for r in similarity.dedup_embedding_multiprobe(
            spark, sf_dir
        ).collect()
    }
    assert set(single) <= set(multi)
    for pair, sim in single.items():
        assert multi[pair] == sim, pair
    # the extra pairs sit at hamming exactly 1 in the 4-bit bucket
    from pyspark.sql import functions as F

    emb = similarity._embeddings_normed(spark, sf_dir)
    buckets = {
        r.vec_id: r.bucket
        for r in emb.select(
            "vec_id", similarity._bucket_col("v").alias("bucket")
        ).collect()
    }
    for va, vb in set(multi) - set(single):
        ham = sum(a != b for a, b in zip(buckets[va], buckets[vb]))
        assert ham == 1, (va, vb, ham)


def test_big_scale_env_validated(monkeypatch):
    """SPARK_GRAFT_BIG_SCALE is validated at parse time: loud on
    non-integers, rejected below 1, default 1."""
    from cassandra_log_analyzer_mcp_spark.operators import bigscale

    monkeypatch.setenv("SPARK_GRAFT_BIG_SCALE", "big")
    with pytest.raises(ValueError, match="not an integer"):
        bigscale._parse_big_scale()
    monkeypatch.setenv("SPARK_GRAFT_BIG_SCALE", "0")
    with pytest.raises(ValueError, match=">= 1"):
        bigscale._parse_big_scale()
    monkeypatch.setenv("SPARK_GRAFT_BIG_SCALE", "3")
    assert bigscale._parse_big_scale() == 3
    monkeypatch.delenv("SPARK_GRAFT_BIG_SCALE")
    assert bigscale._parse_big_scale() == 1


def test_corpus_token_budget_by_lang_conserves_corpus(spark, sf_dir):
    """The mixture rollup must partition the corpus: doc counts sum
    to |documents|, token counts sum to the corpus total, and the
    floored permille shares sum to at most 1000."""
    from cassandra_log_analyzer_mcp_spark.operators import textops as T
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    rows = T.corpus_token_budget_by_lang(spark, sf_dir).collect()
    docs = documents(spark, sf_dir)
    n_docs = docs.count()
    n_tokens = docs.select(
        F.sum(F.size(tokens_col())).alias("t")
    ).collect()[0].t
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.n_tokens for r in rows) == n_tokens
    assert sum(r.share_permille for r in rows) <= 1000
    for r in rows:
        assert abs(r.mean_doc_tokens - r.n_tokens / r.n_docs) < 1e-12


def test_quality_lang_crosstab_shares(spark, sf_dir):
    """Crosstab cells partition the corpus; within-language floored
    shares sum to (1000 - |buckets|, 1000]."""
    from cassandra_log_analyzer_mcp_spark.operators import textops as T
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    rows = T.quality_lang_crosstab(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == documents(spark, sf_dir).count()
    assert {r.bucket for r in rows} <= {"low", "mid", "high"}
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.pred_lang, []).append(r.share_of_lang_permille)
    for lang, shares in by_lang.items():
        assert 1000 - len(shares) < sum(shares) <= 1000, lang


def test_dedup_survivorship_by_source_invariants(spark, sf_dir):
    """Per source: kept <= norm-distinct <= exact-distinct <= docs;
    keepers across sources total the GLOBAL normalized-distinct count
    (every global group has exactly one keeper, charged to one
    source); token retention is a valid floored permille."""
    from cassandra_log_analyzer_mcp_spark.operators import dedup as D
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    rows = D.dedup_survivorship_by_source(spark, sf_dir).collect()
    docs = documents(spark, sf_dir)
    norm = F.trim(
        F.regexp_replace(F.lower("text"), D.NORM_STRIP_REGEX, " ")
    )
    n_norm_global = docs.select(F.md5(norm).alias("h")).distinct().count()
    assert sum(r.n_kept_docs for r in rows) == n_norm_global
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.n_kept_docs <= r.n_norm_distinct <= r.n_exact_distinct \
            <= r.n_docs, r.source
        assert r.tokens_kept <= r.tokens_total, r.source
        assert 0 <= r.kept_permille <= 1000, r.source


def test_doc_length_quartiles_by_lang_grid(spark, sf_dir):
    """Per lang: counts partition the corpus and the quartile grid is
    monotone and bracketed by min/max; quartiles of integers land on
    exact quarter points (round(., 2) must be lossless)."""
    from cassandra_log_analyzer_mcp_spark.operators import textops as T
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    rows = T.doc_length_quartiles_by_lang(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == documents(spark, sf_dir).count()
    for r in rows:
        assert r.min_chars <= r.p25_chars <= r.p50_chars \
            <= r.p75_chars <= r.max_chars, r.lang
        for q in (r.p25_chars, r.p50_chars, r.p75_chars):
            assert abs(q * 4 - round(q * 4)) < 1e-9, (r.lang, q)


def test_bucketed_digest_dedup_matches_survivorship(spark, sf_dir):
    """The doc-level assignment ledger must be the survivorship
    rollup's preimage: every document appears exactly once, keepers
    per source equal n_kept_docs, and each digest group's keeper is
    its min doc_id (keeper_id <= doc_id, keepers flag themselves)."""
    from cassandra_log_analyzer_mcp_spark.operators import dedup as D
    from cassandra_log_analyzer_mcp_spark.sources.tables import documents

    rows = D.bucketed_digest_dedup(spark, sf_dir).collect()
    assert len(rows) == documents(spark, sf_dir).count()
    assert len({r.doc_id for r in rows}) == len(rows)
    kept_by_source: dict = {}
    for r in rows:
        assert r.keeper_id <= r.doc_id
        assert r.is_keeper == (1 if r.doc_id == r.keeper_id else 0)
        kept_by_source[r.source] = kept_by_source.get(r.source, 0) \
            + r.is_keeper
    surv = {
        r.source: r.n_kept_docs
        for r in D.dedup_survivorship_by_source(spark, sf_dir).collect()
    }
    assert kept_by_source == surv


def test_embedding_label_coherence_rederives_exactly(spark, sf_dir):
    """Re-derive the per-label statistic in pure Python (pyarrow +
    math.floor — no Spark, no DuckDB) and demand BYTE-equality: the
    quantized integer arithmetic is the whole cross-engine contract,
    so the engine must reproduce it exactly, not approximately."""
    import math
    import os

    import pyarrow.parquet as pq

    from cassandra_log_analyzer_mcp_spark.operators import (
        similarity as S,
    )

    rows = {
        r.label: r
        for r in S.embedding_label_coherence(spark, sf_dir).collect()
    }
    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    want: dict = {}
    for label, emb in zip(
        tbl.column("label").to_pylist(), tbl.column("embedding").to_pylist()
    ):
        sums, n = want.setdefault(label, [[0] * len(emb), 0])
        for d, x in enumerate(emb):
            sums[d] += math.floor(float(x) * S.QUANT_SCALE)
        want[label][1] = n + 1
    assert set(rows) == set(want)
    for label, (sums, n) in want.items():
        r = rows[label]
        ssq = sum(s * s for s in sums)
        assert r.n_vecs == n, label
        assert r.n_dims == len(sums), label
        assert r.ssq == ssq, label
        assert r.coherence_ppm == (1000000 * ssq) // (
            n * n * S.QUANT_SCALE * S.QUANT_SCALE
        ), label
        assert 0 <= r.coherence_ppm <= 1_200_000, label


def test_bucket_pairs_matches_self_join(spark):
    """_bucket_pairs (round-10 fold) must emit exactly the self-join's
    distinct (da, db) pair set over the distinct (doc_id, band) rows,
    including the occupancy-cap guard — on a hand-built bucket frame
    with a hot bucket, a pair bridging two buckets, and a singleton
    bucket, and on one with repeated rows (no self-pair, and a repeat
    does not count toward the cap)."""
    from pyspark.sql import functions as F

    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        _bucket_pairs,
    )

    rows = (
        [(d, "hot") for d in range(5)]        # occupancy 5
        + [(1, "b1"), (2, "b1"), (3, "b1")]   # occupancy 3
        + [(2, "b2"), (3, "b2")]              # duplicate pair via b2
        + [(9, "lonely")]                     # occupancy 1 — no pairs
    )
    buckets = spark.createDataFrame(rows, "doc_id long, band string")
    repeated = spark.createDataFrame(
        [
            (1, "b1"), (2, "b1"), (2, "b1"), (3, "b1"),  # occupancy 3
            (7, "b2"), (7, "b2"),                        # occupancy 1
        ],
        "doc_id long, band string",
    )

    def self_join(frame, cap=None):
        b = frame.distinct()
        if cap is not None:
            hot = (
                b.groupBy("band")
                .agg(F.count("*").alias("occ"))
                .filter(F.col("occ") > cap)
                .select("band")
            )
            b = b.join(F.broadcast(hot), "band", "left_anti")
        return (
            b.select(F.col("doc_id").alias("da"), "band")
            .join(b.select(F.col("doc_id").alias("db"), "band"), "band")
            .filter(F.col("da") < F.col("db"))
            .select("da", "db")
            .distinct()
        )

    for label, frame in (("rows", buckets), ("repeated", repeated)):
        for cap in (None, 4, 3, 2, 1):
            want = {tuple(r) for r in self_join(frame, cap).collect()}
            got = {tuple(r) for r in _bucket_pairs(frame, cap=cap).collect()}
            assert got == want, f"{label} cap={cap}"
    # sanity: the uncapped set includes the hot bucket's 10 pairs and
    # the capped (cap=4) set drops exactly them
    uncapped = {tuple(r) for r in _bucket_pairs(buckets).collect()}
    capped = {tuple(r) for r in _bucket_pairs(buckets, cap=4).collect()}
    assert capped == {(1, 2), (1, 3), (2, 3)}
    assert len(uncapped - capped) == 7  # hot-only pairs ((1,2) etc. overlap)
