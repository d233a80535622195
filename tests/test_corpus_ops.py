"""Training-data corpus operators: PII redaction, benchmark
decontamination, sessionization, deterministic sampling/shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from parlerproject_spark.catalog import load_table
from parlerproject_spark.operators import privacy, sampling
from parlerproject_spark.operators.decontaminate import (
    contamination_hits,
    decontaminate,
)
from parlerproject_spark.operators.relational import sessionize


# ---- privacy -------------------------------------------------------------

def test_pii_redaction_removes_all_patterns(spark):
    docs = spark.createDataFrame([
        (1, "reach me at jane.doe+x@mail.example.org thanks"),
        (2, "call 555-123-4567 or 555-999-0000 now"),
        (3, "server 10.0.255.3 is up"),
        (4, "clean text with no pii at all"),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           privacy.redact_pii(privacy.pii_counts(docs)).collect()}
    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["clean_text"]
    assert "@" not in out[1]["clean_text"]
    assert out[2]["n_phone"] == 2
    assert out[2]["clean_text"].count("<PHONE>") == 2
    assert out[3]["n_ip"] == 1 and "<IP>" in out[3]["clean_text"]
    assert out[4]["clean_text"] == "clean text with no pii at all"
    assert out[4]["n_email"] == out[4]["n_phone"] == out[4]["n_ip"] == 0


def test_pii_redaction_is_jvm_only(spark):
    docs = spark.createDataFrame([(1, "a@b.co")], ["doc_id", "text"])
    plan = privacy.redact_pii(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF fallback — stays in codegen


# ---- decontamination -----------------------------------------------------

def test_decontaminate_flags_and_removes_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"])
    corpus = spark.createDataFrame([
        (1, "we saw the quick brown fox yesterday"),   # shares 3-grams
        (2, "completely unrelated words entirely here"),
        (3, "jumps over the lazy dog again today"),    # shares 3-grams
    ], ["doc_id", "text"])
    hits = {r["doc_id"]: r["n_hits"]
            for r in contamination_hits(corpus, bench, n=3).collect()}
    assert set(hits) == {1, 3}
    assert hits[1] >= 2  # "the quick brown", "quick brown fox"
    clean = decontaminate(corpus, bench, n=3)
    assert [r["doc_id"] for r in clean.collect()] == [2]


def test_decontaminate_benchmark_side_broadcasts(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    plan = contamination_hits(d, bench, n=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles to join


def test_semantic_decontaminate_removes_near_eval_vectors(spark):
    from parlerproject_spark.operators.decontaminate import (
        semantic_contamination_hits, semantic_decontaminate)
    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame([
        (1, [0.99, 0.1, 0.0]),    # near eval 100
        (2, [0.0, 0.0, 1.0]),     # orthogonal to both
        (3, [0.05, 0.98, 0.0]),   # near eval 101
        (4, [0.7, 0.7, 0.0]),     # ~0.707 to both, below 0.9
    ], "vec_id long, embedding array<double>")
    hits = {r["doc_id"]: (r["n_hits"], r["max_sim"]) for r in
            semantic_contamination_hits(corpus, ev, threshold=0.9)
            .collect()}
    assert set(hits) == {1, 3}
    assert all(n == 1 and s >= 0.9 for n, s in hits.values())
    clean = semantic_decontaminate(corpus, ev, threshold=0.9)
    assert sorted(r["vec_id"] for r in clean.collect()) == [2, 4]


def test_semantic_decontaminate_eval_side_broadcasts(spark, sf_dir):
    from parlerproject_spark.operators.decontaminate import (
        semantic_contamination_hits)
    emb = load_table(spark, "embeddings", sf_dir)
    ev = emb.filter(F.col("vec_id") % 20 == 0)
    plan = semantic_contamination_hits(emb, ev, threshold=0.3) \
        ._jdf.queryExecution().executedPlan().toString()
    # the eval vectors join the re-scored candidates by broadcast,
    # keyed on the eval id
    assert "BroadcastHashJoin [__eid" in plan, plan


def test_semantic_contamination_empty_eval_side(spark):
    """No eval vectors: zero hits with the usual typed schema, not a
    numpy error from norming a shape-(0,) matrix."""
    from parlerproject_spark.operators.decontaminate import (
        semantic_contamination_hits)
    ev = spark.createDataFrame([], "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = semantic_contamination_hits(corpus, ev, threshold=0.9)
    assert out.schema.simpleString() == \
        "struct<doc_id:bigint,n_hits:bigint,max_sim:double>"
    assert out.collect() == []


# ---- sessionization ------------------------------------------------------

def test_sessionize_gap_semantics(spark):
    rows = [
        (1, 1, "2024-01-01 10:00:00"),
        (1, 2, "2024-01-01 10:20:00"),   # 20 min -> same session
        (1, 3, "2024-01-01 10:50:00"),   # exactly 30 min -> same (<=)
        (1, 4, "2024-01-01 11:30:01"),   # 30 min + 1 s -> new session
        (2, 5, "2024-01-01 00:00:00"),   # other key: own numbering
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "s"]) \
        .withColumn("ts", F.col("s").cast("timestamp_ntz")).drop("s")
    got = {r["event_id"]: r["session_no"]
           for r in sessionize(ev, gap_seconds=1800).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}


def test_sessionize_single_exchange(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    plan = sessionize(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


# ---- sampling ------------------------------------------------------------

def test_stratified_sample_deterministic_and_bounded(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir)
    frac = {"en": 0.5, "es": 0.2}
    a = sampling.stratified_sample(d, frac, strata_col="lang",
                                   id_col="doc_id")
    b = sampling.stratified_sample(d, frac, strata_col="lang",
                                   id_col="doc_id")
    ids_a = sorted(r["doc_id"] for r in a.collect())
    assert ids_a == sorted(r["doc_id"] for r in b.collect())  # reproducible
    langs = {r["lang"] for r in a.select("lang").distinct().collect()}
    assert langs <= {"en", "es"}  # default fraction 0 drops other strata
    n_en_total = d.filter(F.col("lang") == "en").count()
    n_en_kept = a.filter(F.col("lang") == "en").count()
    if n_en_total >= 20:
        assert 0.3 * n_en_total <= n_en_kept <= 0.7 * n_en_total


def test_stratified_sample_membership_stable_under_growth(spark, sf_dir):
    """A doc's keep/drop decision must not change when the corpus
    grows — hash-threshold sampling, not rank-based."""
    d = load_table(spark, "documents", sf_dir)
    frac = {"en": 0.5}
    small_ids = {r["doc_id"] for r in sampling.stratified_sample(
        d.filter(F.col("doc_id") < 100), frac,
        strata_col="lang", id_col="doc_id").collect()}
    full_ids = {r["doc_id"] for r in sampling.stratified_sample(
        d, frac, strata_col="lang", id_col="doc_id").collect()}
    assert small_ids == {i for i in full_ids if i < 100}


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    from parlerproject_spark.operators.text_analysis import line_dedup
    docs = spark.createDataFrame([
        (1, "alpha one\nFOOTER AD\nbeta one"),
        (2, "alpha two\nFOOTER AD\nbeta two"),
        (3, "alpha three\nFOOTER AD\nbeta three"),
        (4, "solo doc line\n\n  \nlast line"),   # blank lines ignored
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           line_dedup(docs, max_line_df=2).collect()}
    # FOOTER AD appears in 3 docs > max_line_df=2 -> removed everywhere
    assert out[1]["clean_text"] == "alpha one\nbeta one"
    assert out[2]["clean_text"] == "alpha two\nbeta two"
    assert out[3]["n_lines_kept"] == 2
    assert out[4]["clean_text"] == "solo doc line\nlast line"


def test_pack_sequences_contiguous_and_deterministic(spark, sf_dir):
    from parlerproject_spark.operators.sampling import pack_sequences
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.size(F.split("text", r"\s+")).alias("n"))
    out = pack_sequences(d, id_col="doc_id", tokens_col="n",
                         seq_len=128, shards=4).collect()
    assert {r["shard"] for r in out} <= set(range(4))
    # within a shard, offsets must tile contiguously: sorting docs by
    # (seq_no, tok_offset) and re-accumulating their token counts
    # reproduces every (seq_no, tok_offset)
    n_by_id = {r["doc_id"]: r["n"] for r in d.collect()}
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: (r["seq_no"], r["tok_offset"], r["doc_id"]))
        cum = 0
        for r in rows:
            assert r["seq_no"] == cum // 128, (shard, r)
            assert r["tok_offset"] == cum % 128, (shard, r)
            cum += n_by_id[r["doc_id"]]
    out2 = pack_sequences(d, id_col="doc_id", tokens_col="n",
                          seq_len=128, shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_phash_near_dup_banded_equals_bruteforce(spark):
    import itertools
    from parlerproject_spark.operators.multimodal import phash_near_dup
    import pytest as _pytest
    hashes = [(i, (0x9E3779B97F4A7C15 * (i + 1)) & ((1 << 63) - 1))
              for i in range(40)]
    # inject near-dups: ids 100+i with 2 bits flipped
    hashes += [(100 + i, h ^ 0b101) for i, h in hashes[:10]]
    df = spark.createDataFrame(hashes, "pid long, ph long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in phash_near_dup(df, id_col="pid", phash_col="ph",
                                   max_hamming=3, bands=4).collect()}
    want = {}
    for (ia, ha), (ib, hb) in itertools.combinations(hashes, 2):
        if ia > ib:
            ia, ib, ha, hb = ib, ia, hb, ha
        d = bin(ha ^ hb).count("1")
        if d <= 3:
            want[(ia, ib)] = d
    assert got == want and len(want) >= 10
    with _pytest.raises(ValueError):
        phash_near_dup(df, id_col="pid", phash_col="ph",
                       max_hamming=4, bands=4)  # guarantee violated


def test_deterministic_shuffle_is_a_permutation(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir).select("doc_id")
    out = [r["doc_id"] for r in
           sampling.deterministic_shuffle(d, id_col="doc_id").collect()]
    assert sorted(out) == sorted(r["doc_id"] for r in d.collect())
    assert out != sorted(out)  # actually permuted
    out2 = [r["doc_id"] for r in
            sampling.deterministic_shuffle(d, id_col="doc_id").collect()]
    assert out == out2  # reproducible
    other = [r["doc_id"] for r in sampling.deterministic_shuffle(
        d, id_col="doc_id", seed="other-seed").collect()]
    assert out != other  # seed re-deals


def test_lm_score_prefers_natural_bigrams(spark):
    from parlerproject_spark.operators.text_analysis import lm_score
    # "the cat" repeats corpus-wide -> high P(cat|the); doc 3 is the
    # same tokens in an unseen order -> every bigram is count-1
    docs = spark.createDataFrame([
        (1, "the cat sat"), (2, "the cat ran"), (3, "cat the sat"),
        (4, "one"),  # single token: no bigrams, excluded
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in lm_score(docs).collect()}
    assert 4 not in out and out[1]["n_bigrams"] == 2
    assert out[1]["lm_logp"] > out[3]["lm_logp"]


def test_vocab_coverage_monotone_and_bounded(spark, sf_dir):
    from parlerproject_spark.operators.text_analysis import vocab_coverage
    d = load_table(spark, "documents", sf_dir)
    rows = vocab_coverage(d, top_k=10).orderBy("rank").collect()
    shares = [r["cum_share"] for r in rows]
    assert shares == sorted(shares) and shares[-1] <= 1.0
    tfs = [r["tf"] for r in rows]
    assert tfs == sorted(tfs, reverse=True)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_chunk_documents_reassembles_exactly(spark):
    from parlerproject_spark.operators.text_analysis import chunk_documents
    text = " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame([(1, text), (2, "a b"), (3, "  ")],
                                 ["doc_id", "text"])
    # stride == chunk_size -> non-overlapping partition of the stream
    out = (chunk_documents(docs, chunk_size=32, stride=32)
           .orderBy("doc_id", "chunk_no").collect())
    d1 = [r for r in out if r["doc_id"] == 1]
    assert [r["n_toks"] for r in d1] == [32, 32, 32, 4]
    assert " ".join(r["chunk_text"] for r in d1) == text
    assert [r["chunk_text"] for r in out if r["doc_id"] == 2] == ["a b"]
    assert not [r for r in out if r["doc_id"] == 3]  # whitespace-only
    # overlap: stride 24 < chunk 32 -> consecutive chunks share 8 toks
    ov = (chunk_documents(docs.filter("doc_id = 1"),
                          chunk_size=32, stride=24)
          .orderBy("chunk_no").collect())
    a, b = ov[0]["chunk_text"].split(), ov[1]["chunk_text"].split()
    assert a[24:] == b[:8]


def test_domain_mix_upsamples_rare_domains(spark):
    from parlerproject_spark.operators.sampling import domain_mix_weights
    rows = [(i, "big") for i in range(900)] + [(i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "dom"])
    out = {r["dom"]: r for r in
           domain_mix_weights(df, domain_col="dom", alpha=0.3).collect()}
    assert abs(out["big"]["w"] + out["small"]["w"] - 1.0) < 1e-6
    assert out["small"]["boost"] > 1.0 > out["big"]["boost"]
    assert out["small"]["p"] == 0.1


def test_sample_to_token_budget_respects_per_domain_budget(spark):
    from parlerproject_spark.operators.sampling import (
        sample_to_token_budget)
    # two domains, 10 docs x 10 tokens each; weights 0.7/0.3 of a
    # 100-token budget -> a: 70 tokens = 7 docs, b: 30 tokens = 3 docs
    rows = [(i, "a", " ".join(["w"] * 10)) for i in range(10)]
    rows += [(100 + i, "b", " ".join(["w"] * 10)) for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "dom", "text"])
    wts = spark.createDataFrame([("a", 0.7), ("b", 0.3)], ["dom", "w"])
    out = sample_to_token_budget(docs, wts, budget_tokens=100,
                                 domain_col="dom").collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["dom"], []).append(r["doc_id"])
    assert len(by_dom["a"]) == 7
    assert len(by_dom["b"]) == 3
    # deterministic: same input -> same ids
    out2 = sample_to_token_budget(docs, wts, budget_tokens=100,
                                  domain_col="dom").collect()
    assert sorted(r["doc_id"] for r in out) == \
        sorted(r["doc_id"] for r in out2)


def test_sample_to_token_budget_knapsack_prefix_rule(spark):
    from parlerproject_spark.operators.sampling import (
        sample_to_token_budget)
    # budget 25, docs of 10 tokens: exactly 2 fit; the doc that
    # would cross the line (and everything after) is dropped
    rows = [(i, "a", " ".join(["w"] * 10)) for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "dom", "text"])
    wts = spark.createDataFrame([("a", 1.0)], ["dom", "w"])
    out = sample_to_token_budget(docs, wts, budget_tokens=25,
                                 domain_col="dom").collect()
    assert len(out) == 2
    assert sum(r["n_toks"] for r in out) == 20  # within budget


def test_normalize_url_canonical_forms(spark):
    from parlerproject_spark.functions.text import normalize_url
    cases = [
        ("HTTPS://WWW.Ex.COM/A/B/?utm_source=t&x=1&fbclid=z#f",
         "https://www.ex.com/A/B?x=1"),
        ("http://ex.com/", "http://ex.com/"),          # root slash kept
        ("http://ex.com/p?utm_campaign=c", "http://ex.com/p"),
        ("http://EX.com/Keep/Case", "http://ex.com/Keep/Case"),
        ("https://ex.com/a?ref_src=twsrc&gclid=9&q=ok#x",
         "https://ex.com/a?q=ok"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["u"])
    got = [r["n"] for r in
           df.select(normalize_url("u").alias("n")).collect()]
    assert got == [want for _, want in cases]


def test_grouped_split_never_straddles_groups(spark, sf_dir):
    from parlerproject_spark.catalog import load_table
    from parlerproject_spark.operators.sampling import grouped_split
    from pyspark.sql import functions as F
    docs = load_table(spark, "documents", sf_dir)
    out = grouped_split(docs, group_col="source")
    # every group maps to exactly one split
    assert (out.groupBy("source")
            .agg(F.countDistinct("split").alias("n"))
            .filter("n > 1").count()) == 0
    # growth stability: members added to an existing group inherit it
    half = grouped_split(docs.filter("doc_id % 2 = 0"),
                         group_col="source")
    full_map = {r["source"]: r["split"] for r in
                out.select("source", "split").distinct().collect()}
    for r in half.select("source", "split").distinct().collect():
        assert full_map[r["source"]] == r["split"]


# Round-5 additions ---------------------------------------------------------

def test_cut_substring_spans_removes_only_duplicated_run(spark):
    from parlerproject_spark.operators.dedup import cut_substring_spans
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [(1, f"one two three {shared} four five"),
         (2, f"seven eight {shared} nine"),
         (3, "totally unrelated words occupy this document text here")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in cut_substring_spans(docs, k=8).collect()}
    assert got[1]["clean_text"] == "one two three four five"
    assert got[1]["n_removed"] == 8 and got[1]["n_kept"] == 5
    assert got[2]["clean_text"] == "seven eight nine"
    # untouched doc: reassembly is the identity on its token stream
    assert got[3]["n_removed"] == 0
    assert got[3]["clean_text"] == \
        "totally unrelated words occupy this document text here"


def test_cut_substring_spans_fully_duplicated_doc_empties(spark):
    from parlerproject_spark.operators.dedup import cut_substring_spans
    run = " ".join(f"tok{i}" for i in range(8))
    docs = spark.createDataFrame([(1, run), (2, run)], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in cut_substring_spans(docs, k=8).collect()}
    for i in (1, 2):
        assert rows[i]["clean_text"] == ""
        assert rows[i]["n_kept"] == 0 and rows[i]["n_removed"] == 8


def test_ngram_novelty_boilerplate_scores_low(spark):
    from parlerproject_spark.operators.text_analysis import ngram_novelty
    base = "the quick brown fox jumps over the lazy dog again"
    docs = spark.createDataFrame(
        [(1, base), (2, base),                       # exact dup: zero novelty
         (3, "completely original sentence nobody else ever wrote here")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in ngram_novelty(docs, n=3).collect()}
    assert got[1]["novel_share"] == 0.0 and got[2]["novel_share"] == 0.0
    assert got[3]["novel_share"] == 1.0
    assert got[3]["n_grams"] == got[3]["n_novel"]


def test_group_head_sample_exact_k_and_stability(spark):
    from parlerproject_spark.operators.sampling import group_head_sample
    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small")
                                               for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = group_head_sample(df, group_col="source", id_col="doc_id", k=5)
    got = out.collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src["big"]) == 5          # exactly k
    assert len(by_src["small"]) == 3        # min(k, |group|)
    # growth stability: adding rows to ANOTHER group never changes
    # this group's sample
    grown = df.union(spark.createDataFrame(
        [(2000 + i, "small") for i in range(50)], ["doc_id", "source"]))
    regrown = group_head_sample(grown, group_col="source",
                                id_col="doc_id", k=5)
    big2 = {r["doc_id"] for r in regrown.collect() if r["source"] == "big"}
    assert big2 == by_src["big"]


def test_logreg_separates_planted_classes(spark):
    from parlerproject_spark.operators.selection import (
        logreg_quality_classifier)
    pos = [(i, "excellent thoughtful prose with careful clear argument", 1)
           for i in range(20)]
    neg = [(100 + i, "buy cheap pills now click here spam spam", 0)
           for i in range(20)]
    docs = spark.createDataFrame(pos + neg, ["doc_id", "text", "label"])
    out = {r["doc_id"]: r for r in
           logreg_quality_classifier(docs, n_iters=5, lr=4.0).collect()}
    assert all(out[i]["margin"] > out[100 + j]["margin"]
               for i in range(0, 20, 5) for j in range(0, 20, 5))
    assert all(out[i]["pred"] == 1 for i in range(20))
    assert all(out[100 + j]["pred"] == 0 for j in range(20))


def test_centroid_outlier_flags_far_vector(spark):
    from parlerproject_spark.operators.similarity import (
        centroid_outlier_scores)
    # label 0: tight cluster along +x with ONE vector along -x
    rows = ([(i, [1.0, float(i % 3) * 0.01], 0) for i in range(10)]
            + [(99, [-1.0, 0.0], 0)]
            + [(200 + i, [0.0, 1.0], 1) for i in range(5)])
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {r["vec_id"]: r["centroid_sim"]
           for r in centroid_outlier_scores(df).collect()}
    assert got[99] < 0 < got[0]             # outlier anti-aligned
    assert all(got[i] > 0.9 for i in range(10))
    assert got[200] > 0.999                 # homogeneous group ~1


def test_corpus_zipf_stats_uniform_and_skewed(spark):
    import math
    from parlerproject_spark.operators.text_analysis import corpus_zipf_stats
    # uniform corpus: every token equally frequent -> slope 0,
    # entropy = ln(vocab)
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "aa bb cc dd")], ["doc_id", "text"])
    r = corpus_zipf_stats(docs).collect()[0]
    assert r["vocab_size"] == 4 and r["total_tokens"] == 8
    assert r["zipf_slope"] == 0.0
    assert r["unigram_entropy"] == round(math.log(4), 6)
    # skewed corpus: freq 4/2/1 ranks 1/2/3 -> negative slope and
    # entropy matches the hand computation
    docs2 = spark.createDataFrame(
        [(1, "aa aa aa aa bb bb cc")], ["doc_id", "text"])
    r2 = corpus_zipf_stats(docs2).collect()[0]
    assert r2["zipf_slope"] < -0.5
    ps = [4 / 7, 2 / 7, 1 / 7]
    want = -sum(p * math.log(p) for p in ps)
    assert r2["unigram_entropy"] == round(want, 6)


def test_stupid_backoff_all_three_paths(spark):
    import math
    from parlerproject_spark.operators.text_analysis import (
        stupid_backoff_score)
    train = spark.createDataFrame(
        [(100, "a b c d"), (101, "a b c e")], ["doc_id", "text"])
    # counts: tri a b c ×2, b c d, b c e; big: ab×2, bc×2, cd, ce;
    # uni: a2 b2 c2 d1 e1 -> N=8, V=5
    # doc 1 "a b c" -> trigram (a,b,c) seen: S = 2/2 = 1 -> lp 0
    # doc 2 "b c d" -> trigram (b,c,d) seen: S = 1/2
    # doc 3 "c a b" -> (c,a,b) unseen, bigram (a,b) seen:
    #                  S = 0.4 * c(ab)/c(a) = 0.4 * 2/2 = 0.4
    # doc 4 "d e zz" -> everything unseen at trigram+bigram level:
    #                  S = 0.16 * (c(zz)+1)/(N+V) = 0.16 * 1/13
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d"), (3, "c a b"), (4, "d e zz")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           stupid_backoff_score(docs, train).collect()}
    assert out[1]["sb_logp"] == 0.0
    assert out[2]["sb_logp"] == round(math.log(0.5), 6)
    assert out[3]["sb_logp"] == round(math.log(0.4), 6)
    assert out[4]["sb_logp"] == round(math.log(0.16 / 13), 6)
    assert all(r["n_trigrams"] == 1 for r in out.values())


def test_stupid_backoff_excludes_short_docs(spark):
    from parlerproject_spark.operators.text_analysis import (
        stupid_backoff_score)
    train = spark.createDataFrame([(9, "x y z")], ["doc_id", "text"])
    docs = spark.createDataFrame([(1, "x y"), (2, "x")],
                                 ["doc_id", "text"])
    assert stupid_backoff_score(docs, train).count() == 0


def test_cooccurrence_edges_window_and_filters(spark):
    from parlerproject_spark.operators.text_analysis import (
        cooccurrence_edges)
    # "alpha beta gamma" twice: window 2 pairs per doc =
    # (alpha,beta) (beta,gamma) (alpha,gamma); x2 docs -> w=2 each.
    # "of" is dropped by min_len=3 BEFORE pairing, so in doc 3
    # alpha..gamma become adjacent again.
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "alpha of beta")],
        ["doc_id", "text"])
    got = {(r["a"], r["b"]): r["w"] for r in
           cooccurrence_edges(docs, window=2, min_count=2).collect()}
    assert got[("alpha", "beta")] == 3    # 2 adjacent + 1 post-filter
    assert got[("beta", "gamma")] == 2
    assert got[("alpha", "gamma")] == 2   # distance-2 pairs
    assert all(a < b for (a, b) in got)


def test_textrank_central_term_ranks_first(spark):
    from parlerproject_spark.operators.text_analysis import (
        textrank_keywords)
    # "hub" co-occurs with every other term; spokes only with hub
    docs = spark.createDataFrame(
        [(1, "hub aaa hub bbb hub ccc hub ddd"),
         (2, "hub aaa hub bbb hub ccc hub ddd")],
        ["doc_id", "text"])
    rows = textrank_keywords(docs, window=1, min_count=2,
                             top_k=10).collect()
    assert rows[0]["term"] == "hub"
    assert rows[0]["rank"] == max(r["rank"] for r in rows)


# Weighted reservoir sampling ----------------------------------------------

def test_weighted_reservoir_sample_basic_contract(spark):
    from parlerproject_spark.operators.sampling import (
        weighted_reservoir_sample)
    rows = [(i, 1 + (i % 50)) for i in range(200)] + [(999, 0)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = weighted_reservoir_sample(df, 50).collect()
    assert len(out) == 50
    ids = [r["doc_id"] for r in out]
    assert 999 not in ids                      # zero weight excluded
    assert len(set(ids)) == 50                 # without replacement
    # weighted: the sample over-represents heavy rows vs uniform
    mean_w = sum(r["weight"] for r in out) / 50
    pop_w = sum(w for _, w in rows[:-1]) / 200
    assert mean_w > pop_w
    # k > n returns everything with positive weight
    assert len(weighted_reservoir_sample(df, 500).collect()) == 200


def test_weighted_reservoir_sample_deterministic(spark):
    from parlerproject_spark.operators.sampling import (
        weighted_reservoir_sample)
    df = spark.createDataFrame(
        [(i, 10 + i) for i in range(100)], "doc_id long, n_chars long")
    a = [r["doc_id"] for r in weighted_reservoir_sample(df, 20).collect()]
    b = [r["doc_id"] for r in
         weighted_reservoir_sample(df.repartition(7), 20).collect()]
    assert a == b


# Score calibration ---------------------------------------------------------

def test_calibrate_scores_ranks_and_z(spark):
    from parlerproject_spark.operators.selection import calibrate_scores
    rows = ([(i, "a", float(i)) for i in range(1, 5)]
            + [(10 + i, "b", 7.0) for i in range(3)])  # constant group
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = {r["doc_id"]: r for r in
           calibrate_scores(df, group_col="source").collect()}
    assert out[1]["pct"] == 0.0 and out[4]["pct"] == 1.0
    assert all(out[10 + i]["z"] is None for i in range(3))  # sd == 0
    zs = [out[i]["z"] for i in range(1, 5)]
    assert abs(sum(zs)) < 1e-6                 # z-scores center on 0


# Fill-in-the-middle --------------------------------------------------------

def test_fim_transform_reassembles_to_original(spark):
    from parlerproject_spark.operators.text_analysis import fim_transform
    import pyspark.sql.functions as SF
    texts = [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "ab"), (3, ""), (4, "x" * 500)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = {r["doc_id"]: r for r in fim_transform(df).collect()}
    for doc_id, text in texts:
        r = out[doc_id]
        assert 0 <= r["cut_a"] <= r["cut_b"] <= len(text)
        body = r["fim_text"]
        assert body.startswith("<PRE>")
        pre, rest = body[5:].split("<SUF>", 1)
        suf, mid = rest.split("<MID>", 1)
        assert pre + mid + suf == text         # lossless permutation
        assert pre == text[:r["cut_a"]]
        assert mid == text[r["cut_a"]:r["cut_b"]]


class TestDistinctNgramDiversity:
    def _run(self, spark, rows):
        from parlerproject_spark.operators.text_analysis import (
            distinct_ngram_diversity)
        df = spark.createDataFrame(rows, "source string, text string")
        return {(r.source, r.n): r for r in
                distinct_ngram_diversity(df, max_n=2).collect()}

    def test_unique_vs_templated(self, spark):
        out = self._run(spark, [("u", "a b c d"),
                                ("t", "x y x y x y")])
        assert out[("u", 1)].distinct_ratio == 1.0
        assert out[("u", 2)].distinct_ratio == 1.0
        # templated: 6 tokens, 2 unique -> 1/3; 5 bigrams, 2 unique
        assert out[("t", 1)].distinct_ratio == round(2 / 6, 6)
        assert out[("t", 2)].n_total == 5 and out[("t", 2)].n_unique == 2

    def test_single_token_doc_has_no_bigrams(self, spark):
        out = self._run(spark, [("s", "hello")])
        assert ("s", 2) not in out and out[("s", 1)].n_total == 1


class TestLeaveOneOutDeltas:
    def test_hand_deltas(self, spark):
        from parlerproject_spark.operators.profiling import (
            leave_one_out_deltas)
        rows = [("a", 10.0), ("a", 20.0), ("b", 100.0)]
        df = spark.createDataFrame(rows, "source string, value double")
        out = {r.source: r for r in
               leave_one_out_deltas(df).collect()}
        # global mean 130/3; without a: 100; without b: 15
        assert out["a"].loo_mean == 100.0
        assert out["b"].loo_mean == 15.0
        assert out["a"].delta == round(130 / 3 - 100, 6)   # a pulls DOWN
        assert out["b"].delta == round(130 / 3 - 15, 6)    # b pulls UP

    def test_single_group_loo_is_null(self, spark):
        from parlerproject_spark.operators.profiling import (
            leave_one_out_deltas)
        df = spark.createDataFrame([("only", 5.0)],
                                   "source string, value double")
        r = leave_one_out_deltas(df).collect()[0]
        assert r.loo_mean is None and r.delta is None


class TestHeapsLawFit:
    def _run(self, spark, rows):
        from parlerproject_spark.operators.text_analysis import heaps_law_fit
        df = spark.createDataFrame(rows,
                                   "doc_id long, source string, text string")
        return {r.source: r for r in heaps_law_fit(df).collect()}

    def test_templated_source_beta_zero(self, spark):
        # every doc repeats the same 2 tokens: V flat at 2 while N
        # grows -> slope ~0 on the log-log curve
        rows = [(i, "t", "a b a b") for i in range(6)]
        r = self._run(spark, rows)["t"]
        assert r.vocab == 2 and r.n_tokens == 24
        assert abs(r.beta) < 0.35          # flat-ish growth

    def test_all_new_tokens_beta_one(self, spark):
        # every token everywhere is new: V == N exactly -> beta = 1,
        # K = 1
        rows = [(i, "n", f"w{4*i} w{4*i+1} w{4*i+2} w{4*i+3}")
                for i in range(5)]
        r = self._run(spark, rows)["n"]
        assert r.vocab == r.n_tokens == 20
        assert r.beta == 1.0 and r.k_factor == 1.0

    def test_single_point_is_null_fit(self, spark):
        r = self._run(spark, [(0, "s", "x y")])["s"]
        assert r.beta is None and r.n_points == 1


def test_containment_pairs_catches_embedded_doc(spark):
    """A short doc embedded verbatim inside a long one: containment
    ≈ 1 even though jaccard is small — the asymmetric case the
    symmetric Jaccard pass misses by construction."""
    from parlerproject_spark.operators.dedup import containment_pairs

    short = "alpha bravo charlie delta echo foxtrot golf hotel"
    filler = " ".join(f"word{i} tok{i*7%13}x pad{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, short),
         (2, filler + " " + short + " " + filler[::-1].lower()),
         (3, "completely unrelated text about nothing shared here "
             "with more unrelated filler sentences to pad it out")],
        "doc_id long, text string")
    rows = {(r["id_a"], r["id_b"]): r
            for r in containment_pairs(docs, n=3, threshold=0.5).collect()}
    assert (1, 2) in rows
    r = rows[(1, 2)]
    assert r["containment"] >= 0.99
    assert r["jaccard"] < 0.25, "embedded doc must look dissimilar to Jaccard"
    assert not any(3 in k for k in rows), "unrelated doc must not pair"


def test_containment_pairs_identical_docs_score_one_both_ways(spark):
    from parlerproject_spark.operators.dedup import containment_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame([(1, text), (2, text)],
                                 "doc_id long, text string")
    rows = containment_pairs(docs, n=3, threshold=0.9).collect()
    assert len(rows) == 1
    assert rows[0]["containment"] == 1.0 and rows[0]["jaccard"] == 1.0


def test_psi_timeline_flags_only_the_shifted_day(spark):
    """Days drawn from the reference distribution read psi ≈ 0; a
    day whose values all sit in the top reference bin reads high."""
    import datetime

    from parlerproject_spark.operators.stats import psi_timeline

    base = datetime.datetime(2024, 1, 1)
    ref_rows = [(base + datetime.timedelta(minutes=i), float(i % 100))
                for i in range(400)]
    quiet = [(datetime.datetime(2024, 2, 1, minute=i % 60), float(i % 100))
             for i in range(400)]
    shifted = [(datetime.datetime(2024, 2, 2, minute=i % 60), 99.0)
               for i in range(400)]
    ref = spark.createDataFrame(ref_rows, "ts timestamp_ntz, value double")
    cur = spark.createDataFrame(quiet + shifted,
                                "ts timestamp_ntz, value double")
    out = {r["period"]: r for r in
           psi_timeline(ref, cur, time_col="ts", val_col="value").collect()}
    assert set(out) == {"2024-02-01", "2024-02-02"}
    assert out["2024-02-01"]["psi"] < 0.05
    assert out["2024-02-02"]["psi"] > 1.0
    assert out["2024-02-02"]["n_events"] == 400


def test_psi_timeline_zero_ref_mass_bin_still_contributes(spark):
    """Current mass landing in a bin the reference never hit must
    contribute a (smoothed) term, not vanish from the grid."""
    import datetime

    from parlerproject_spark.operators.stats import psi_timeline

    # reference occupies bins 0 and 9 only (values 0 and 100)
    ref = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1), 0.0)] * 50
        + [(datetime.datetime(2024, 1, 1), 100.0)] * 50,
        "ts timestamp_ntz, value double")
    # current day sits entirely in bin 5 (value 55) — zero ref mass
    cur = spark.createDataFrame(
        [(datetime.datetime(2024, 2, 5), 55.0)] * 100,
        "ts timestamp_ntz, value double")
    out = psi_timeline(ref, cur, time_col="ts", val_col="value").collect()
    assert len(out) == 1
    assert out[0]["psi"] > 1.0, "unseen-bin mass must drive PSI up"


def test_mahalanobis_outliers_hand_case_and_constant_dim(spark):
    """Two tight dims + one constant dim: the planted outlier tops
    the ranking with the hand-computed score; the constant dim
    contributes nothing (no divide-by-zero)."""
    from parlerproject_spark.operators.similarity import (
        mahalanobis_outlier_scores)

    # dim0: values 0/2 (mu=1, var=1 over the 4 inliers + outlier math
    # below); dim1: constant 7; dim2: alternating -1/1
    rows = [(1, [0.0, 7.0, -1.0]), (2, [2.0, 7.0, 1.0]),
            (3, [0.0, 7.0, 1.0]), (4, [2.0, 7.0, -1.0]),
            (5, [11.0, 7.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mahalanobis_outlier_scores(df, k=5).collect()
    assert [r["vec_id"] for r in out][0] == 5
    import statistics
    xs0 = [0.0, 2.0, 0.0, 2.0, 11.0]
    mu0 = statistics.mean(xs0)
    vr0 = statistics.pvariance(xs0)
    xs2 = [-1.0, 1.0, 1.0, -1.0, 0.0]
    mu2 = statistics.mean(xs2)
    vr2 = statistics.pvariance(xs2)
    expect5 = (11.0 - mu0) ** 2 / vr0 + (0.0 - mu2) ** 2 / vr2
    got5 = [r["mahal2"] for r in out if r["vec_id"] == 5][0]
    assert abs(got5 - expect5) < 1e-6
    # ranking is score desc with ascending-id tie-break
    scores = [r["mahal2"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_simhash_pairs_pigeonhole_and_verify(spark):
    """A planted near-identical pair (one token changed) lands
    within the hamming threshold and is found; an unrelated doc is
    not paired. Also pins the parameter validation."""
    import pytest

    from parlerproject_spark.operators.dedup import simhash, simhash_pairs

    base = ("the quick brown fox jumps over the lazy dog while "
            "seventeen violet engines hum beneath the frozen river")
    docs = spark.createDataFrame(
        [(1, base),
         (2, base.replace("frozen", "molten")),
         (3, "entirely different content about spacecraft telemetry "
             "calibration and antenna gain tables for deep missions")],
        "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash(docs, bits=60).collect()}
    planted_ham = bin(sigs[1] ^ sigs[2]).count("1")
    # pigeonhole needs max_hamming < bands and bands | bits: pick
    # the smallest divisor of 60 that exceeds the planted distance
    bands = next(d for d in (2, 3, 4, 5, 6, 10, 12, 15, 20, 30, 60)
                 if d > planted_ham)
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_pairs(docs, bits=60,
                                  max_hamming=planted_ham,
                                  bands=bands).collect()}
    assert (1, 2) in out and out[(1, 2)] == planted_ham
    assert not any(3 in k for k in out)
    # verify threshold actually rejects: at max_hamming 0 the pair
    # disappears unless the signatures are identical
    strict = simhash_pairs(docs, bits=60, max_hamming=0, bands=4).collect()
    if planted_ham > 0:
        assert not strict
    with pytest.raises(ValueError):
        simhash_pairs(docs, bits=60, max_hamming=4, bands=4)
    with pytest.raises(ValueError):
        simhash_pairs(docs, bits=50, max_hamming=2, bands=4)


def test_epochs_to_exhaust_dedup_and_plateau(spark):
    """Hand case: source A is 50% duplicated tokens (2 identical
    docs), source B is clean. Effective masses then drive the
    τ-tempered budget: the small source is up-sampled past the
    4-epoch plateau, the large one stays under it."""
    from parlerproject_spark.operators.sampling import epochs_to_exhaust

    big = " ".join(f"tok{i}" for i in range(100))
    rows = [("A", 1, big), ("A", 2, big)]  # dup pair: 100 effective
    rows += [("B", i, " ".join(f"b{i}w{j}" for j in range(100)))
             for i in range(10, 19)]       # 9 unique docs: 900 effective
    docs = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = {r["source"]: r for r in epochs_to_exhaust(docs).collect()}
    a, b = out["A"], out["B"]
    assert a["raw_tokens"] == 200 and a["effective_tokens"] == 100
    assert a["dup_token_share"] == 0.5
    assert b["dup_token_share"] == 0.0
    import math
    z = 100 ** 0.7 + 900 ** 0.7
    share_a = 100 ** 0.7 / z
    expect_a = 4.0 * 1000 * share_a / 100
    assert math.isclose(a["epochs"], round(expect_a, 6), abs_tol=1e-6)
    assert a["over_plateau"] and not b["over_plateau"]
    assert abs(a["budget_share"] + b["budget_share"] - 1.0) < 1e-5


def test_seasonal_decompose_recovers_pattern_and_flags_spike(spark):
    """A clean weekly pattern (weekend dip) decomposes with ~zero
    residuals; a planted spike day is the only anomaly."""
    import datetime

    from parlerproject_spark.operators.timeseries import (
        seasonal_decompose)

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for d in range(28):
        day = base + datetime.timedelta(days=d)
        level = 50.0 if day.weekday() >= 5 else 100.0  # weekend dip
        if d == 17:
            level += 500.0  # planted incident
        rows.append((day, level))
    ev = spark.createDataFrame(rows, "ts timestamp_ntz, value double")
    out = {r["period"]: r for r in
           seasonal_decompose(ev, time_col="ts", value_col="value")
           .collect()}
    assert len(out) == 28
    spike_day = (base + datetime.timedelta(days=17)).strftime("%Y-%m-%d")
    assert out[spike_day]["is_anomaly"]
    anomalies = [p for p, r in out.items() if r["is_anomaly"]]
    # the MA trend bleeds the spike into its +-3-day neighborhood;
    # the spike day itself must carry the LARGEST |residual|
    assert spike_day in anomalies
    assert max(out.values(), key=lambda r: abs(r["residual"]))[
        "period"] == spike_day
    # weekend rows are dips, not anomalies: seasonal soaks them up
    weekend = [r for p, r in out.items()
               if datetime.datetime.strptime(p, "%Y-%m-%d").weekday() >= 5]
    assert weekend and not any(
        r["is_anomaly"] for r in weekend
        if abs((datetime.datetime.strptime(r["period"], "%Y-%m-%d")
                - (base + datetime.timedelta(days=17))).days) > 3)


def test_fd_audit_holds_violations_and_null_semantics(spark):
    from parlerproject_spark.operators.profiling import fd_audit

    rows = [
        (1, "a", "x"), (2, "a", "x"),   # a -> x consistent
        (3, "b", "x"), (4, "b", "y"),   # b violates dep2
        (5, None, "x"), (6, None, "x"),  # NULL det forms one group
        (7, "c", None),                  # NULL dep ignored by distinct
    ]
    df = spark.createDataFrame(rows, "pk long, det string, dep string")
    out = {r["fd"]: r for r in fd_audit(df, [
        ("pk_det", "pk", "det"),
        ("det_dep", "det", "dep"),
    ]).collect()}
    assert out["pk_det"]["holds"] and out["pk_det"]["n_violating"] == 0
    d = out["det_dep"]
    # groups: a, b, c, NULL -> 4; only b has 2 distinct deps
    assert d["n_groups"] == 4 and d["n_violating"] == 1
    assert d["violation_share"] == 0.25 and not d["holds"]


def test_wasserstein_drift_location_shift_closed_form(spark):
    """W1 of a pure +c location shift equals c; identical
    distributions give exactly 0."""
    from parlerproject_spark.operators.stats import wasserstein_drift

    vals = [float(v) for v in range(0, 100)]
    ref = spark.createDataFrame(
        [("shift", v) for v in vals] + [("same", v) for v in vals],
        "k string, value double")
    cur = spark.createDataFrame(
        [("shift", v + 7.0) for v in vals] + [("same", v) for v in vals],
        "k string, value double")
    out = {r["k"]: r for r in
           wasserstein_drift(ref, cur, key_col="k",
                             val_col="value").collect()}
    assert out["same"]["w1"] == 0.0
    assert abs(out["shift"]["w1"] - 7.0) < 1e-6
    assert out["shift"]["n_ref"] == out["shift"]["n_cur"] == 100


def test_token_gini_uniform_and_extreme(spark):
    from parlerproject_spark.operators.text_analysis import token_gini

    rows = [("u", i, "a b c d") for i in range(10)]          # uniform
    rows += [("x", 100, " ".join(["w"] * 96))]               # one giant
    rows += [("x", 100 + i, "w") for i in range(1, 5)]       # 4 minnows
    docs = spark.createDataFrame(rows,
                                 "source string, doc_id long, text string")
    out = {r["source"]: r for r in token_gini(docs).collect()}
    # uniform: G = 2*sum(i*x)/(n*sum x) - (n+1)/n with x const -> 0
    assert out["u"]["gini"] == 0.0
    g = out["x"]["gini"]
    # near-total concentration: G approaches (n-1)/n * (1 - share of
    # minnows); exact value via the formula
    n, tot = 5, 100
    six = sum((i + 1) * x for i, x in enumerate(sorted([96, 1, 1, 1, 1])))
    expect = 2.0 * six / (n * tot) - (n + 1.0) / n
    assert abs(g - round(expect, 6)) < 1e-9


def test_behavioral_entropy_closed_forms(spark):
    import math

    from parlerproject_spark.operators.analytics import (
        behavioral_entropy)

    rows = [(1, "a")] * 8                       # single type: H = 0
    rows += [(2, t) for t in "abcd" * 3]        # uniform 4: H = ln 4
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r["user_id"]: r for r in behavioral_entropy(ev).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["n_types"] == 1
    assert abs(out[2]["entropy"] - round(math.log(4), 6)) < 1e-9
    assert out[2]["n_events"] == 12


def test_activity_profile_grid_and_chi2(spark):
    import datetime

    from parlerproject_spark.operators.analytics import activity_profile

    # all traffic in ONE slot: maximal non-uniformity
    ev = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 9, m % 60),) for m in range(100)],
        "ts timestamp_ntz")
    rows = activity_profile(ev).collect()
    assert len(rows) == 168, "full 7x24 grid expected"
    hot = [r for r in rows if r["n"] > 0]
    assert len(hot) == 1 and hot[0]["n"] == 100
    assert hot[0]["share"] == 1.0
    # chi2 for all mass in one of 168 slots = n * 167
    assert abs(rows[0]["chi2"] - 100 * 167.0) < 1e-3
    # empty slots carried the same global chi2 (single-frame repeat)
    assert len({r["chi2"] for r in rows}) == 1
